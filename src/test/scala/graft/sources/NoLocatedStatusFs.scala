package graft.sources

import java.net.URI

import org.apache.hadoop.fs.{LocatedFileStatus, Path, PathFilter, RawLocalFileSystem,
  RemoteIterator}

/** The local file system under the `nolocated:` scheme, refusing every
  * located listing (`listFiles` and `listLocatedStatus`). On Hadoop's
  * local FS a located status copies each file's owner and permission,
  * which without native IO forks `ls -ld` per file; a listing that works
  * here never builds one. Install with `fs.nolocated.impl`. */
class NoLocatedStatusFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("nolocated:///")
  override def getScheme: String = "nolocated"

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    throw new UnsupportedOperationException(s"located listing of $f")

  override protected def listLocatedStatus(f: Path, filter: PathFilter)
      : RemoteIterator[LocatedFileStatus] =
    throw new UnsupportedOperationException(s"located listing of $f")
}
