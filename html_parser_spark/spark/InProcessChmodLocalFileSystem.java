package html_parser_spark.spark;

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
 * Hadoop's checksummed local file system, with permission changes made
 * inside the JVM. Without libhadoop, RawLocalFileSystem.setPermission
 * forks a `chmod` process for every file, `.crc` file and directory it
 * creates; here plain rwx modes go through java.nio instead. Any mode
 * with the sticky bit goes to Hadoop's own implementation, so the bits
 * set on disk are the same either way.
 */
public class InProcessChmodLocalFileSystem extends LocalFileSystem {

  public InProcessChmodLocalFileSystem() {
    super(new Raw());
  }

  /** The raw (checksum-free) layer the checksummed file system wraps. */
  public static class Raw extends RawLocalFileSystem {

    private static final PosixFilePermission[] BITS = {
      // bit 0 (o+x) first, bit 8 (u+r) last
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms =
          EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
