package userfeed.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.Path;

/**
 * The checksummed local FileContext ({@code fs.AbstractFileSystem.file.impl})
 * over {@link NioRawLocalFs}, as LocalFs is over RawLocalFs: every file
 * gets a .crc sidecar, and, unlike with LocalFs, every read verifies it.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }

  /**
   * FilterFs.open(Path), which FileContext.open calls, goes straight to
   * the raw file system and skips the checksum; the two-argument open is
   * ChecksumFs's verifying one.
   */
  @Override
  public FSDataInputStream open(Path f) throws IOException {
    return open(f, getServerDefaults(f).getFileBufferSize());
  }
}
