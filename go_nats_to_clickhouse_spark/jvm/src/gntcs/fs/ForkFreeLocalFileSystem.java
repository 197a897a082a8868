package gntcs.fs;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
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
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed local filesystem without the per-file child process.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} runs {@code chmod} in
 * a new process, and it is called for every file, {@code .crc} sidecar and directory
 * the filesystem creates; its link-status lookup, which {@code FileContext} renames
 * use, runs {@code readlink}. {@link Raw} answers both in-process and leaves every
 * other method, the checksums and the file layout as they are. {@code fs.file.impl}
 * names this class; {@code fs.AbstractFileSystem.file.impl} names {@link Fs}, the same
 * binding for {@code FileContext} users such as the streaming checkpoint.
 *
 * <p>pyspark's bundled Hive jars register Hive's {@code ProxyLocalFileSystem} for
 * {@code file:}, and the service registry can pick it over Hadoop's own; it refuses to
 * rename onto an existing file, as HDFS does, and so does {@link #rename}.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {

  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} with the two forking calls answered in-process. */
  public static class Raw extends RawLocalFileSystem {

    private static final int SPECIAL_BITS = 07000; // setuid, setgid, sticky
    private static final int S_IFMT = 0170000;
    private static final int S_IFDIR = 0040000;

    /**
     * Sets the same mode bits as {@code chmod %04o} does. The stock method is kept
     * where it forks no process (libhadoop loaded) and for what NIO cannot express:
     * a mode with the sticky bit, or a directory carrying setuid/setgid bits, which
     * {@code chmod} keeps and a plain {@code chmod(2)} would clear.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if (!NativeIO.isAvailable() && (mode & SPECIAL_BITS) == 0) {
        java.nio.file.Path file = pathToFile(p).toPath();
        try {
          int current = (Integer) Files.getAttribute(file, "unix:mode");
          if ((current & S_IFMT) != S_IFDIR || (current & SPECIAL_BITS) == 0) {
            Files.setPosixFilePermissions(file, posix(mode));
            return;
          }
        } catch (UnsupportedOperationException | IllegalArgumentException e) {
          // no "unix" attribute view or no POSIX permissions: the stock method below
        }
      }
      super.setPermission(p, permission);
    }

    /**
     * The stock lookup runs {@code readlink} on {@code new File(f.toString())} and,
     * when that prints nothing, returns {@link #getFileStatus}. Only a symbolic link at
     * that same path makes it print something, so every other path skips the process.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      try {
        if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
          return getFileStatus(f);
        }
      } catch (InvalidPathException e) {
        // not a path this platform can name: let the stock method decide
      }
      return super.getFileLinkStatus(f);
    }

    private static Set<PosixFilePermission> posix(int mode) {
      // PosixFilePermission's order is owner, group, others; read, write, execute.
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission perm : PosixFilePermission.values()) {
        if ((mode & (0400 >> perm.ordinal())) != 0) {
          perms.add(perm);
        }
      }
      return perms;
    }
  }

  /** The {@code FileContext} binding: Hadoop's {@code LocalFs} over {@link RawFs}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(FsConstants.LOCAL_FS_URI, conf));
    }
  }

  /** Hadoop's {@code RawLocalFs} with {@link Raw} as the delegate. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
