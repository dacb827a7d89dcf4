package perfbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local file system under the `bench://` scheme, counting the calls the
  * loader's commit protocol makes. Traced runs point the destination at
  * `bench:///<path>` (registered as `fs.bench.impl`); every path the program
  * derives from it keeps the scheme, so all its destination I/O is counted.
  * Bytes written come from Hadoop's per-scheme statistics for `bench`.
  * Rename and delete counts include the checksum files' companions. */
class CountingFs extends LocalFileSystem(new CountingFs.Raw)

object CountingFs {
  val Scheme = "bench"
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val listings = new AtomicLong

  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def rename(src: Path, dst: Path): Boolean = {
      renames.incrementAndGet(); super.rename(src, dst)
    }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      deletes.incrementAndGet(); super.delete(p, recursive)
    }
    override def listStatus(p: Path): Array[FileStatus] = {
      listings.incrementAndGet(); super.listStatus(p)
    }
  }

  /** (bytes written, renames, deletes, listings) so far. */
  def snapshot(): Seq[Long] = {
    val written = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get(Scheme)).flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue)
    Seq(written.getOrElse(0L), renames.get, deletes.get, listings.get)
  }
}
