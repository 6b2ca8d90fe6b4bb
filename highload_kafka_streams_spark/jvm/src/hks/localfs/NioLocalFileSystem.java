package hks.localfs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed {@code file:} {@code FileSystem} over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
