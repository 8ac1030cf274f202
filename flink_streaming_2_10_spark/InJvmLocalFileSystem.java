package flink_streaming_2_10_spark.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local file system with its metadata calls kept in the JVM.
 *
 * Without Hadoop's native library, RawLocalFileSystem forks {@code chmod}
 * for every file it creates and every directory it makes, and
 * {@code readlink} for every getFileLinkStatus, which FileContext reaches
 * on each rename and exists check of a streaming checkpoint. Both are
 * answered here through java.nio; anything stock Hadoop treats specially
 * (modes beyond 0777, real symlinks) still goes to it.
 *
 * Wiring: fs.file.impl = this class (FileSystem API),
 * fs.AbstractFileSystem.file.impl = {@link Fs} (FileContext API).
 */
public class InJvmLocalFileSystem extends LocalFileSystem {
  public InJvmLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Renaming onto an existing file fails, as in HDFS and in the class
   * Spark's Hive-enabled builds bind to {@code file:} by default (Hive's
   * ProxyLocalFileSystem); plain LocalFileSystem would overwrite it.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** The raw (checksum-free) layer both APIs share. */
  public static class Raw extends RawLocalFileSystem {
    /** OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 0400 .. 0001. */
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);  // sticky/setuid: stock chmod
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);  // not a POSIX file system
      }
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** FileContext binding: checksummed, like Hadoop's LocalFs. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** Hadoop's RawLocalFs (package-private constructors) over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
