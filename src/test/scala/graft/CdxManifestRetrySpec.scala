package graft.sources.v2

import java.io.IOException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** The failure discipline of a CDX file-list commit ([[CdxLog.commit]],
  * one whole [[graft.sources.VersionLog]] version under `_manifests`):
  * only a claim verifiably won by another committer counts as a RACE —
  * it rebuilds the list from the winner's and retries, with a bound —
  * while a persistent I/O failure (endpoint down, auth revoked) must
  * FAIL the job promptly instead of spinning through version numbers.
  * Exercised against a scripted local FS whose create/exists/rename
  * behavior is programmable per call — the only way to pin the
  * "create throws a bare IOException immediately" shape, which real
  * object-store clients produce on connection refusal. */
class CdxManifestRetrySpec extends AnyFunSuite {

  /** RawLocalFileSystem with programmable create/exists/rename faults. */
  private class ScriptedFs extends RawLocalFileSystem {
    @volatile var failCreate: Path => Option[IOException] = _ => None
    @volatile var forceExists: Path => Option[Boolean] = _ => None
    @volatile var failAfterRename: Path => Option[IOException] = _ => None
    // distinct paths create was attempted on — robust against the
    // FileSystem.create overload chain hitting both hooks per call
    val pathsTried = scala.collection.mutable.LinkedHashSet[String]()
    // RawLocalFileSystem routes FileSystem.create(Path, boolean)
    // through THIS overload (not the FsPermission one), so the fault
    // hook must live here to see the commit's creates
    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      pathsTried += f.toString
      failCreate(f).foreach(e => throw e)
      super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      pathsTried += f.toString
      failCreate(f).foreach(e => throw e)
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }
    override def exists(f: Path): Boolean =
      forceExists(f).getOrElse(super.exists(f))
    override def rename(src: Path, dst: Path): Boolean = {
      val done = super.rename(src, dst)
      failAfterRename(dst).foreach(e => throw e)
      done
    }
  }

  private def withFs[T](body: (ScriptedFs, Path) => T): T = {
    val fs = new ScriptedFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val root = new Path(
      java.nio.file.Files.createTempDirectory("cdx_retry").toString)
    body(fs, root)
  }

  private def isMarker(p: Path) =
    p.getParent.getName == "commits" && p.getName.matches("v\\d+")

  test("persistent create failure fails the commit promptly — no version spin") {
    withFs { (fs, root) =>
      fs.failCreate = p =>
        if (p.toString.contains("/_manifests/")) Some(new IOException("connection refused"))
        else None
      val e = intercept[IOException] {
        CdxLog.commit(fs, root, Seq("part-00000-job1.cdx"), truncate = false)
      }
      assert(e.getMessage == "connection refused")
      // exactly one write was attempted: the commit must not have
      // burned through version numbers before giving up
      assert(fs.pathsTried.count(_.contains("/_manifests/")) == 1, fs.pathsTried)
      assert(CdxLog.visibleFiles(fs, root).isEmpty)
    }
  }

  test("a lost claim retries on the winner's list: both jobs land") {
    withFs { (fs, root) =>
      // another job commits v0 between this job's list write and its
      // claim of v0
      var raced = false
      fs.forceExists = p => {
        if (!raced && isMarker(p)) {
          raced = true
          assert(CdxLog.commit(fs, root, Seq("part-00000-job2.cdx"), truncate = false) == 0L)
        }
        None
      }
      val v = CdxLog.commit(fs, root, Seq("part-00000-job1.cdx"), truncate = false)
      assert(raced && v == 1L)
      assert(CdxLog.visibleFiles(fs, root).contains(
        Seq("part-00000-job2.cdx", "part-00000-job1.cdx")))
    }
  }

  test("a claim rename that throws after landing still wins") {
    withFs { (fs, root) =>
      // some stores surface a completed conditional write as a generic
      // IOException; the marker's body then shows this writer won
      var thrown = false
      fs.failAfterRename = p =>
        if (!thrown && isMarker(p)) { thrown = true; Some(new IOException("500 after write")) }
        else None
      val v = CdxLog.commit(fs, root, Seq("part-00000-job1.cdx"), truncate = false)
      assert(thrown && v == 0L)
      assert(CdxLog.visibleFiles(fs, root).contains(Seq("part-00000-job1.cdx")))
    }
  }

  test("attempt cap: endless verifiable races still terminate with a failure") {
    withFs { (fs, root) =>
      // pathological store: every probed version "exists" — the cap
      // must end the loop with an error instead of running forever
      fs.forceExists = p => if (isMarker(p)) Some(true) else None
      val e = intercept[IOException] {
        CdxLog.commit(fs, root, Seq("part-00000-job1.cdx"), truncate = false)
      }
      assert(e.getMessage.contains(s"lost the version race ${CdxLog.MaxAttempts} times"))
      assert(fs.pathsTried.count(_.contains("/commits/.claim.")) == CdxLog.MaxAttempts)
    }
  }
}
