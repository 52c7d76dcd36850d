package silvia.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The local filesystem without a forked process per call. Without
 * libhadoop, RawLocalFileSystem runs `chmod` for every file and directory
 * it creates and `readlink` for every getFileLinkStatus; this answers
 * both through java.nio. Files, .crc sidecars and modes are unchanged.
 */
public final class NioLocalFs {
  private NioLocalFs() {}

  /** The raw filesystem: the two forking calls, answered in-process. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      if (permission.getStickyBit()) {  // not expressible in nio: chmod
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(),
          PosixFilePermissions.fromString(permission.toString()));
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** fs.file.impl: the checksummed FileSystem over Raw. */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }

    /** Hive's ProxyLocalFileSystem, the class this replaces in a PySpark
     *  install, refuses a rename onto an existing file; so does this. */
    @Override
    public boolean rename(Path src, Path dst) throws IOException {
      return !isFile(dst) && super.rename(src, dst);
    }
  }

  /** The AbstractFileSystem over Raw, as Hadoop's local.RawLocalFs. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf)
        throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
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

  /** fs.AbstractFileSystem.file.impl: the checksummed FileContext side. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf)
        throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }
}
