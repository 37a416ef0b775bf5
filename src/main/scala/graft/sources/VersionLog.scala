package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one commit protocol of the versioned stores ([[StateStore]],
  * [[ShardStore]], [[graft.operators.CrawlState]],
  * [[graft.operators.GraphState]], [[graft.sources.v2.CdxSource]]'s
  * file lists). Each store keeps its own data layout, read path and
  * retention; the log owns only the decision "version N is committed",
  * kept under the store root as `commits/v<N>` plus a `LATEST` pointer
  * flipped last. A writer stages its version in a dir named by a fresh
  * token, then claims `commits/v<N>`: exactly one writer wins a
  * version number, and the newest marker is the truth ([[latest]]).
  * A marker's first line is `"<token> <base>"`.
  *
  *  - WHOLE versions ([[commitNext]]: ShardStore, CrawlState,
  *    GraphState, CdxSource) are staged in their final home
  *    `<home(N)>/<token>`, so a claimed version is complete where it
  *    lies: nothing moves and readers ([[latest]], [[dir]]) never
  *    write.
  *  - DELTA versions ([[commit]]: StateStore, and with it each corpus
  *    ingest batch) stage under `staging/<token>` and move into shared
  *    dirs after the claim. The marker records every move, one
  *    `"<staged path>\t<destination>"` line each, so one claim decides
  *    the whole version, whichever dirs its files end up in. Readers
  *    ([[readable]]) resolve the newest version whose staging dir is
  *    gone — its moves are done — and never write. Writers call
  *    [[healForward]] before they claim: it finishes the moves of a
  *    version whose writer died between claim and flip. `<base>` is
  *    the version a delta reads back to (whole versions: base = N).
  *
  * A writer that dies (or throws) while staging leaves at most an
  * unclaimed dir, never a fence; orphaned stages are not swept (a
  * concurrent writer's in-flight stage looks the same). A lost LATEST
  * is recovered from the markers; a LATEST newer than the newest
  * marker fails loudly (markers were lost).
  */
private[graft] object VersionLog {

  private def latestPath(root: String) = new Path(s"$root/LATEST")
  private def markerPath(root: String, v: Long) = new Path(s"$root/commits/v$v")
  private def stagePath(root: String, token: String) = new Path(s"$root/staging/$token")

  /** The trimmed UTF-8 body of `p`, or None when it does not exist. */
  private def read(f: FileSystem, p: Path): Option[String] =
    try {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Point LATEST at `v`: write a writer-private tmp, then replace
    * LATEST with it. LATEST is a cache of the markers — briefly absent
    * mid-flip, and a flip that loses to a concurrent one is fine —
    * because every read resolves it through [[latest]]. */
  private def flip(f: FileSystem, root: String, v: Long): Unit = {
    val tmp = new Path(s"$root/LATEST.${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    f.delete(latestPath(root), false)
    if (!f.rename(tmp, latestPath(root))) f.delete(tmp, false)
  }

  /** (token, base, moves) from the body of marker `v`. */
  private def marker(f: FileSystem, root: String, v: Long): (String, Long, Seq[(String, Path)]) = {
    val body = read(f, markerPath(root, v)).getOrElse(
      throw new IllegalStateException(s"commit marker v$v is missing under $root"))
    val lines = body.split("\n").toSeq
    (lines.head.split(" "), lines.tail.map(_.split("\t"))) match {
      case (Array(token, base), moves) if moves.forall(_.length == 2) =>
        (token, base.toLong, moves.map(m => m(0) -> new Path(m(1))))
      case _ => throw new IllegalStateException(s"malformed commit marker $root/commits/v$v: '$body'")
    }
  }

  /** The base recorded in committed version `v`'s marker. */
  def base(f: FileSystem, root: String, v: Long): Long = marker(f, root, v)._2

  /** (LATEST, newest marker). LATEST is read BEFORE the markers are
    * listed: a flip always follows its claim, so a LATEST newer than
    * every marker listed after it means markers were lost — loud. */
  private def pointerAndNewest(f: FileSystem, root: String): (Option[Long], Option[Long]) = {
    val pointer = read(f, latestPath(root)).map(_.toLong)
    val newest =
      try f.listStatus(new Path(s"$root/commits")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("v"))
        .map(_.drop(1).toLong).maxOption
      catch { case _: FileNotFoundException => None }
    require(pointer.forall(p => newest.exists(p <= _)),
      s"LATEST names v${pointer.get} under $root but the newest commit marker is " +
        newest.fold("absent")("v" + _) + " — refusing to roll the state back")
    (pointer, newest)
  }

  /** Latest committed version — the newest marker — or None when
    * nothing was ever claimed. Read-only. */
  def latest(f: FileSystem, root: String): Option[Long] = pointerAndNewest(f, root)._2

  /** The newest DELTA version whose moves are done (its staging dir is
    * gone), or None. A version claimed but not yet moved is not read:
    * the reader gets the one before it and leaves the log as it found
    * it. Read-only. */
  def readable(f: FileSystem, root: String): Option[Long] = {
    val (pointer, newest) = pointerAndNewest(f, root)
    newest.flatMap { m =>
      (m to pointer.fold(0L)(_ + 1L) by -1L)
        .find(v => !f.exists(stagePath(root, marker(f, root, v)._1)))
        .orElse(pointer)
    }
  }

  /** For a writer of delta versions, before it claims: finish the moves
    * of every version claimed after LATEST (a [[commit]] that crashed
    * between claim and flip), flip LATEST to the newest marker, and
    * return it. */
  def healForward(f: FileSystem, root: String): Option[Long] = {
    val (pointer, newest) = pointerAndNewest(f, root)
    for (m <- newest if !pointer.contains(m)) {
      (pointer.fold(0L)(_ + 1L) to m).foreach { v =>
        val (token, _, moves) = marker(f, root, v)
        materialize(f, stagePath(root, token), moves)
      }
      flip(f, root, m)
    }
    newest
  }

  /** Atomically claim version `v` with marker `body`: the body goes to
    * a writer-private tmp, then is RENAMED into place — the marker
    * becomes visible with its body complete, and Hadoop rename refuses
    * an existing destination, so the rename is the fence: exactly one
    * writer wins a version number (atomic on HDFS and
    * precondition-capable object stores; on a raw local FS the
    * strongest primitive available). */
  private def claim(f: FileSystem, root: String, v: Long,
                    token: String, body: String): Boolean = {
    f.mkdirs(new Path(s"$root/commits"))
    val tmp = new Path(s"$root/commits/.claim.$token")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val won = try !f.exists(markerPath(root, v)) && f.rename(tmp, markerPath(root, v))
      catch { // a rename that failed after landing the marker still won
        case _: java.io.IOException => read(f, markerPath(root, v)).contains(body.trim)
      }
    if (!won) f.delete(tmp, false)
    won
  }

  /** `stage` writes into `dir` and returns the marker body, then claim
    * `v`. A stage that throws or a lost claim discards `dir`, so
    * neither leaves a claim behind. */
  private def stageAndClaim(f: FileSystem, root: String, v: Long, dir: Path, token: String)
                           (stage: String => String): Boolean = {
    val won =
      try claim(f, root, v, token, stage(dir.toString))
      catch { case e: Throwable => f.delete(dir, true); throw e }
    if (!won) f.delete(dir, true)
    won
  }

  /** Move staged files or dirs (paths relative to `stage`) to their
    * destinations, then drop `stage` — by a committing writer, by a
    * healer finishing a writer that crashed after its claim, or by a
    * store landing an unclaimed append. Idempotent: a finished stage is
    * gone. */
  private[sources] def materialize(f: FileSystem, stage: Path, moves: Seq[(String, Path)]): Unit =
    if (f.exists(stage)) {
      moves.foreach { case (name, dst) =>
        val src = new Path(stage, name)
        // dst is looked at BEFORE src: a src that outlives a dst seen
        // earlier means a rename-as-copy crashed mid-copy (a completed
        // rename deletes its source, on any FS) or a dead writer left
        // a dir there, so dst is partial — drop it and redo. The other
        // order would let a healer racing the committer's own atomic
        // rename see both and delete a complete dst.
        val dstSeen = f.exists(dst)
        if (f.exists(src)) {
          if (dstSeen) f.delete(dst, true)
          f.mkdirs(dst.getParent)
          val moved = try f.rename(src, dst) catch { case _: FileNotFoundException => false }
          // a rename that lost its src to a concurrent healer is done
          require(moved || !f.exists(src), s"could not materialize $src -> $dst")
        }
      }
      f.delete(stage, true)
    }

  /** Write delta version `v` on `base`: `stage` writes the version's
    * files under `staging/<token>` and returns their moves (staged
    * path relative to the stage -> destination); then claim `v` with a
    * marker recording the moves, make them, flip LATEST. False, with
    * the stage discarded, when another writer claimed `v` first. */
  def commit(f: FileSystem, root: String, v: Long, base: Long)
            (stage: String => Seq[(String, Path)]): Boolean = {
    val token = java.util.UUID.randomUUID().toString
    val dir = stagePath(root, token)
    var moves = Seq.empty[(String, Path)]
    val won = stageAndClaim(f, root, v, dir, token) { d =>
      moves = stage(d)
      (s"$token $base" +: moves.map { case (src, dst) => s"$src\t$dst" }).mkString("\n")
    }
    if (won) {
      materialize(f, dir, moves)
      flip(f, root, v)
    }
    won
  }

  /** Write the next WHOLE version: `write` gets the version it builds
    * on (None on an empty log) and the path that is the new version's
    * final home. Returns (version, whether this writer won it); a
    * loser's home is discarded. */
  def commitNext(f: FileSystem, root: String, home: Long => Path)
                (write: (Option[Long], String) => Unit): (Long, Boolean) = {
    val cur = latest(f, root)
    val v = cur.fold(0L)(_ + 1L)
    val token = java.util.UUID.randomUUID().toString
    val won = stageAndClaim(f, root, v, new Path(home(v), token), token) { d =>
      write(cur, d); s"$token $v"
    }
    if (won) flip(f, root, v)
    (v, won)
  }

  /** The path committed whole version `v` lives at. */
  def dir(f: FileSystem, root: String, v: Long, home: Long => Path): String =
    new Path(home(v), marker(f, root, v)._1).toString
}
