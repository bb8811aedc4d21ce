package pp;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local filesystem with permissions set in-process.
 *
 * Without libhadoop.so, RawLocalFileSystem.setPermission forks
 * {@code chmod} for every file and directory it creates (create and
 * mkdirs both end in setPermission), a few milliseconds of process
 * exec each. This subclass sets plain rwx modes through
 * {@link Files#setPosixFilePermissions}, which follows symlinks as
 * chmod does; a mode with the sticky bit (or any bit above 0777) goes
 * to the stock method. Modes are the ones Hadoop asks for, so written
 * files and directories keep the same permissions as with the stock
 * class.
 *
 * Selected per session with {@code spark.hadoop.fs.file.impl}.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** The raw (checksum-free) layer; only setPermission differs. */
  public static class Raw extends RawLocalFileSystem {

    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE,
      PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ,
      PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE,
      PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE,
      PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
