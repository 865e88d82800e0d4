package btc_usdt_etl_pipeline_spark.jvm;

import org.apache.hadoop.fs.LocalFileSystem;

/** {@code file://} through {@code FileSystem}: the checksummed local filesystem over {@link NoForkRawLocalFileSystem}. */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new NoForkRawLocalFileSystem());
  }
}
