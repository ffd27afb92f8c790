package sparkgraft.fs;

import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem ({@code file:}) whose raw layer sets
 * file modes with a chmod system call.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} forks
 * {@code /bin/chmod} for every file and directory it creates, {@code .crc}
 * files included. {@link Raw} overrides that one method with
 * {@code Files.setAttribute(..., "unix:mode", ...)}: the same mode bits,
 * setuid, setgid and sticky included, and no process start. Checksums, umask,
 * create and rename semantics all stay Hadoop's.
 *
 * <p>Build with {@code tools/build_jvm.sh}.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} with an in-process {@code setPermission}. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
    }
  }
}
