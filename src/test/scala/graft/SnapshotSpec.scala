package graft

import java.nio.file.Files

import graft.ingest.Upsert
import graft.plans.BoundedScan
import graft.plans.BoundedScan.CursorSpec
import graft.sources.Snapshots
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Version-pinned snapshot isolation (Server.hs:600 REPEATABLE READ
  * parity): a paged bounded scan pinned to one manifest enumerates exactly
  * that version's unbounded result even while concurrent merges append. */
class SnapshotSpec extends AnyFunSuite with SparkSpec {

  private def rows(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, s"val$i", i % 3 == 0)).toDF("id", "payload", "flag")
  }

  test("merge commits monotonic manifest versions listing the data files") {
    val dir = Files.createTempDirectory("graft_snap_v").toString + "/t"
    assert(Upsert.merge(spark, dir, rows(1L to 10L), Seq("id")) === 10)
    val v1 = Snapshots.latest(spark, dir).get
    assert(v1.version === 1 && v1.files.nonEmpty)
    assert(v1.files.forall(_.endsWith(".parquet")))
    // replay inserts nothing → no new version
    assert(Upsert.merge(spark, dir, rows(1L to 10L), Seq("id")) === 0)
    assert(Snapshots.latest(spark, dir).get.version === 1)
    // real merge bumps the version and the new files appear
    assert(Upsert.merge(spark, dir, rows(11L to 15L), Seq("id")) === 5)
    val v2 = Snapshots.latest(spark, dir).get
    assert(v2.version === 2)
    assert(v1.files.toSet.subsetOf(v2.files.toSet))
    assert(v2.files.size > v1.files.size)
    // historical pin still resolves by number
    assert(Snapshots.at(spark, dir, 1).files === v1.files)
  }

  test("pinned paging interleaved with merges enumerates exactly v1") {
    val dir = Files.createTempDirectory("graft_snap_page").toString + "/t"
    // v1: even ids — later merges add odd ids that would interleave into
    // every page of the cursor order if the reader saw them
    Upsert.merge(spark, dir, rows((2L to 80L by 2)), Seq("id")): Unit
    val pin = Snapshots.latest(spark, dir).get

    val spec = CursorSpec(Seq(("id", false)))
    val expected = (2L to 80L by 2).filter(_ % 3 == 0) // matchCol: flag
    var out = Vector.empty[Long]
    var cont: Option[BoundedScan.Continuation] = None
    var pages = 0
    do {
      // a NEW DataFrame per request from the SAME pinned manifest — the
      // cross-request server pattern (the pin, not DataFrame identity, is
      // what isolates the read)
      val src = Snapshots.read(spark, pin)
      val (page, next) = BoundedScan.performBoundedScan(
        src, spec, col("flag"), scanLimit = 7, resultLimit = 3, cont)
      out ++= page.map(_.getAs[Long]("id"))
      cont = next
      pages += 1
      // concurrent writer lands BETWEEN every page request
      Upsert.merge(spark, dir,
        rows(Seq(2L * pages - 1, 81L + pages)), Seq("id")): Unit
    } while (cont.isDefined && pages < 50)

    assert(out === expected, "pinned pages must equal v1's unbounded result")
    assert(pages > 3, "test must actually exercise multiple pages")
    // and the live table really did move under the reader
    val live = spark.read.parquet(dir)
    assert(live.count() > 40)
    val repin = Snapshots.latest(spark, pin.table).get
    assert(repin.version > pin.version)
    assert(Snapshots.read(spark, repin).count() === live.count())
  }

  test("readPinned self-initializes tables that predate snapshotting") {
    val dir = Files.createTempDirectory("graft_snap_init").toString + "/t"
    rows(1L to 4L).write.parquet(dir) // plain write, no manifest
    assert(Snapshots.latest(spark, dir).isEmpty)
    assert(Snapshots.readPinned(spark, dir).count() === 4)
    assert(Snapshots.latest(spark, dir).get.version === 1)
  }

  test("a memo hit serves readPinned and derivePinned without opening " +
       "the manifest") {
    val dir = Files.createTempDirectory("graft_snap_memo").toString + "/t"
    Upsert.merge(spark, dir, rows(1L to 6L), Seq("id")): Unit
    val derived = Snapshots.derivePinned(spark, dir, Snapshots.TxSearchSource)(
      _.filter(col("flag")))
    assert(Snapshots.readPinned(spark, dir).count() === 6L)
    // same version name, but no longer a file: any open of it now fails
    val manifest = new java.io.File(s"$dir/_manifests/v1.manifest")
    assert(manifest.delete() && manifest.mkdir())
    assert(Snapshots.readPinned(spark, dir).count() === 6L)
    assert(Snapshots.derivePinned(spark, dir, Snapshots.TxSearchSource)(
      _.filter(col("flag"))) eq derived)
  }
}
