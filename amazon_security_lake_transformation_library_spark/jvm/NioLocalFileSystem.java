package aslspark.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed local FileSystem (.crc sidecars) over NioRawLocalFileSystem. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
