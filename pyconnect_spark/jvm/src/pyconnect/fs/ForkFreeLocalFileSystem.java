package pyconnect.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

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
 * The checksummed {@code file:} FileSystem, with syscalls where Hadoop's stock classes fork.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem} runs {@code chmod} for every
 * {@code setPermission} (so for every create and mkdirs, {@code .crc} files included) and
 * {@code readlink} for every {@code getFileLinkStatus}. {@link Raw} does both in-process;
 * everything else, checksums included, is Hadoop's own code.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  /** Hive's {@code ProxyLocalFileSystem} rule: a rename onto an existing file fails. */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} without the {@code chmod} and {@code readlink} forks. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if ((permission.toShort() & ~0777) != 0) {
        super.setPermission(p, permission); // sticky or setuid bits: only chmod sets them
        return;
      }
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
    }

    /** The stock method reads the link of {@code new File(f.toString())}; for a non-link
     * (and for every qualified path) that fails and it returns {@code getFileStatus(f)}. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      return Files.isSymbolicLink(pathToFile(f).toPath())
          ? super.getFileLinkStatus(f)
          : getFileStatus(f);
    }
  }

  /** The FileContext {@code file:} filesystem: Hadoop's {@code LocalFs} over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's {@code RawLocalFs} over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
