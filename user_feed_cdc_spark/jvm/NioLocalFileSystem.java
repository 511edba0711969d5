package userfeed.localfs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * The checksummed local FileSystem ({@code fs.file.impl}) over
 * {@link NioRawLocalFileSystem}; still a LocalFileSystem, so
 * {@code FileSystem.getLocal} callers keep working.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
