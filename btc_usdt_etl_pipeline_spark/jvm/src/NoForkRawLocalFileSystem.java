package btc_usdt_etl_pipeline_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The local filesystem without a forked process per call.
 *
 * <p>Without Hadoop's native library, {@code RawLocalFileSystem} runs
 * {@code chmod} as a child process for every file it creates and every
 * directory it makes, and {@code readlink} for every link-status lookup
 * (each FileContext rename).  These two overrides make the same changes
 * and answer the same way through system calls; the cases the JDK cannot
 * express (a sticky bit, an actual symlink) still go to Hadoop.
 */
public class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** POSIX permissions in the order of their bits, 0400 down to 0001. */
  private static final PosixFilePermission[] BITS = {
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE,
  };

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    // The bits, not toString(): FileContext passes FsCreateModes, whose
    // toString() is not a mode string.
    int mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }
}
