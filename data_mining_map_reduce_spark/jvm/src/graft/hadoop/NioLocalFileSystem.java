package graft.hadoop;

import static java.nio.file.attribute.PosixFilePermission.*;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed {@code file://} file system over a raw file system
 * that sets permissions through java.nio. Without libhadoop, the stock
 * {@code RawLocalFileSystem.setPermission} forks {@code chmod}, and every
 * {@code mkdirs} and {@code create} that carries a permission calls it.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@code RawLocalFileSystem} with a fork-free {@code setPermission}. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BY_BIT = {
      OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
      GROUP_EXECUTE, GROUP_WRITE, GROUP_READ,
      OWNER_EXECUTE, OWNER_WRITE, OWNER_READ,
    };

    /**
     * The 9 mode bits through {@code Files.setPosixFilePermissions}, which
     * follows symlinks as {@code chmod} does. NIO sets no other bit, so
     * {@code super} keeps the sticky bit and the set-user/group-ID bits
     * that {@code chmod} keeps on a directory; with libhadoop it is the
     * native call, not a fork.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      if (NativeIO.isAvailable()
          || permission.getStickyBit()
          || ((Integer) Files.getAttribute(file, "unix:mode") & 06000) != 0) {
        super.setPermission(p, permission);
        return;
      }
      int mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int bit = 0; bit < BY_BIT.length; bit++) {
        if ((mode & (1 << bit)) != 0) {
          perms.add(BY_BIT[bit]);
        }
      }
      Files.setPosixFilePermissions(file, perms);
    }
  }
}
