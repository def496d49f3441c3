package udacitydatawarehouseprj_spark.jvm;

import java.io.File;
import java.io.FileNotFoundException;
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
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's local filesystem without a child process per call.
 *
 * <p>Without the native {@code libhadoop}, Hadoop's {@code RawLocalFileSystem}
 * runs {@code chmod} in a child process for every file and directory it
 * creates (each data file and its {@code .crc}), and {@code readlink} for every
 * {@code getFileLinkStatus}, which {@code FileContext} calls on both ends of
 * each rename a streaming checkpoint makes. {@link RawLocalFileSystem} does both
 * in this JVM; everything else is Hadoop's own code. {@link LocalFileSystem}
 * ({@code fs.file.impl}) and {@link LocalFs} ({@code fs.AbstractFileSystem.file.impl})
 * wrap it the way Hadoop's {@code LocalFileSystem} and {@code local.LocalFs} wrap
 * the stock one, so checksums are still written and verified and
 * {@code FileContext}'s no-overwrite rename is unchanged.
 */
public final class NoFork {
  private NoFork() {}

  /** {@code RawLocalFileSystem} with {@code chmod} and {@code readlink} done in-process. */
  public static class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
    /**
     * Sets the nine rwx bits through NIO. A mode NIO cannot express (the sticky
     * bit), a host with {@code libhadoop} and any NIO failure take Hadoop's own
     * path, so errors reach the caller as the types they always had.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (NativeIO.isAvailable() || permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      int mode = permission.toShort();
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        // OWNER_READ .. OTHERS_EXECUTE are declared in mode-bit order 0400 .. 0001
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          bits.add(bit);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
      } catch (IOException | RuntimeException e) {
        super.setPermission(p, permission);
      }
    }

    /**
     * Hadoop's deprecated (default) link status, with the link read in-process.
     * It keeps Hadoop's quirk: the link is read from {@code new File(f.toString())},
     * so a qualified {@code file:} path never reads as a symlink.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target = readLink(new File(f.toString()));
      FileStatus fi;
      try {
        FileStatus fs = getFileStatus(f);
        fi = target.isEmpty() ? fs : new FileStatus(fs.getLen(), false, fs.getReplication(),
            fs.getBlockSize(), fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
            fs.getOwner(), fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        // a dangling link: File.exists is false for it
        if (target.isEmpty()) {
          throw e;
        }
        fi = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      if (fi.isSymlink()) {
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
      }
      return fi;
    }

    /** {@code FileUtil.readLink}: the link's target, or "" on any failure. */
    static String readLink(File f) {
      try {
        return Files.readSymbolicLink(f.toPath()).toString().trim();
      } catch (IOException | RuntimeException e) {
        return "";
      }
    }
  }

  /** {@code fs.file.impl}: Hadoop's checksummed local filesystem over the raw one above. */
  public static class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
    public LocalFileSystem() {
      super(new RawLocalFileSystem());
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl}: Hadoop's {@code local.LocalFs}. */
  public static class LocalFs extends ChecksumFs {
    LocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawLocalFs(conf));
    }
  }

  /** Hadoop's {@code local.RawLocalFs} over the raw filesystem above. */
  static class RawLocalFs extends DelegateToFileSystem {
    RawLocalFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new RawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
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
