package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The small files the versioned stores keep their truth in: a pointer
  * naming the live version ([[StateStore]]'s `LATEST`, [[ShardStore]]'s
  * `_current`) and [[StateStore]]'s commit-marker bodies. */
private[sources] object Pointer {

  /** The trimmed UTF-8 body of `p`, or None when it does not exist. */
  def read(f: FileSystem, p: Path): Option[String] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }

  /** Point `p` at `body`: write a sibling tmp, then replace `p` with it.
    * Between the delete and the rename `p` is briefly absent, so every
    * reader of a flipped pointer must treat a missing pointer as
    * "resolve from the versions on disk", never as "empty". */
  def flip(f: FileSystem, p: Path, body: String): Unit = {
    val tmp = p.suffix(".tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (f.exists(p)) f.delete(p, false)
    require(f.rename(tmp, p), s"could not flip $p")
  }
}
