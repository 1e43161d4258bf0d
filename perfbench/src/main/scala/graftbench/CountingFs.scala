package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}

/** The local file system with call counters, installed as
  * `fs.file.impl` in traced runs only. It lets the benchmark count
  * graft's metadata reads and directory listings from outside. */
class CountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.toString.contains("/_graft_meta/")) CountingFs.metaOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFs {
  val metaOpens = new AtomicLong()
  val listings = new AtomicLong()
  /** (metadata opens, listings) so far. */
  def snapshot: (Long, Long) = (metaOpens.get, listings.get)
}
