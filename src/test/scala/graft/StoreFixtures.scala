package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared fixtures of the versioned-store suites: roots on each test
  * scheme, literal version-log states, and a hook that lands a second
  * committer inside another's claim. */
object StoreFixtures {

  private def conf = TestSpark.spark.sparkContext.hadoopConfiguration

  /** A fresh root over `file`, `graftfs` (local disk behind a foreign
    * scheme, atomic rename) or `graftoss` (rename-as-copy). */
  def newRoot(scheme: String, name: String): String = {
    conf.set("fs.graftfs.impl", classOf[GraftFs].getName)
    conf.set("fs.graftoss.impl", classOf[ObjectStoreFs].getName)
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    if (scheme == "file") dir else s"$scheme:$dir"
  }

  def fsOf(root: String): FileSystem = new Path(root).getFileSystem(conf)

  def write(f: FileSystem, p: Path, body: String): Unit = {
    val out = f.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Claim whole version `v` under `root` for the table a committer
    * wrote at `<home>/<token>` the way one that died right after its
    * claim leaves it: the marker is there, LATEST still names v-1. */
  def claimed(root: String, v: Long, token: String): Unit =
    write(fsOf(root), new Path(s"$root/commits/v$v"), s"$token $v")

  /** Claim DELTA version `v` on `base` under `root` the way a committer
    * that died right after its claim leaves it: the marker records the
    * moves (path staged under `staging/<token>` -> destination), none
    * is made yet, and LATEST still names an older version. */
  def claimedDelta(root: String, v: Long, token: String, base: Long,
                   moves: Seq[(String, String)]): Unit =
    write(fsOf(root), new Path(s"$root/commits/v$v"),
      (s"$token $base" +: moves.map { case (src, dst) => s"$src\t$dst" }).mkString("\n"))

  /** A StateStore version's moves: each staged table dir to its
    * `ingest=<v>` (labels: `v=<v>`) partition. */
  def stateMoves(root: String, v: Long): Seq[(String, String)] =
    Seq("hashes", "sigs", "shingles", "manifest", "dead").map(t => t -> s"$root/$t/ingest=$v") :+
      ("labels" -> s"$root/labels/v=$v")

  /** Names directly under `dir` (Nil when it does not exist): the
    * writer-private dirs of `root/staging` or of one version's home. */
  def children(dir: String): Seq[String] = {
    val f = fsOf(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil else f.listStatus(p).map(_.getPath.getName).toSeq.sorted
  }

  /** Every file under `root` as (path, length, mtime, body of a small
    * file such as a pointer or marker) — equal before and after an
    * operation that must not write. */
  def files(root: String): Set[(String, Long, Long, String)] = {
    val f = fsOf(root)
    def walk(p: Path): Seq[(String, Long, Long, String)] = f.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) walk(s.getPath)
      else {
        val body = if (s.getLen > 64) "" else {
          val in = f.open(s.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        }
        Seq((s.getPath.toString, s.getLen, s.getModificationTime, body))
      }
    }
    walk(new Path(root)).toSet
  }

  private val hooks = new ConcurrentHashMap[Path, () => Unit]()

  /** Run `winner` the first time `path` is looked up (`exists` or
    * `open`) on `graftfs:` or `graftoss:`. A committer looks up its
    * marker only in its claim, after staging — so with `path` =
    * `commits/v<N>`, `winner`, a whole commit of its own, lands between
    * the other's stage and claim: a two-way race for one version, made
    * deterministic. */
  def raceFor(path: Path)(winner: => Unit): Unit = { hooks.put(path, () => winner); () }

  private[graft] def beforeLookup(p: Path): Unit =
    Option(hooks.remove(p)).foreach(_())
}
