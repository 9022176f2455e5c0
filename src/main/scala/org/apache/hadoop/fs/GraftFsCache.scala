package org.apache.hadoop.fs

import java.net.URI
import org.apache.hadoop.conf.Configuration

/** The one call into Hadoop's package-private FileSystem cache (hence
  * this file's package): unregister a cached instance WITHOUT closing
  * it. `FileSystem.close()` would also drop the entry, but it fires the
  * instance's delete-on-exit paths and leaves every component that
  * already holds it with a closed file system. */
object GraftFsCache {
  def forget(uri: URI, conf: Configuration, fs: FileSystem): Unit =
    FileSystem.CACHE.remove(new FileSystem.Cache.Key(uri, conf), fs)
}
