package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 pins: the text-index lifecycle (q266-q270 upsert / delete /
  * compact — affected-bucket rewrites, versioned stats, replay
  * idempotence) and the q263 build's single-tokenize plan fix. */
class Round11Spec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  /** bucket-dir → file fingerprints (name:mtime:size), the Round10Spec
    * compaction-minimality idiom over `bucket=` partitions. */
  private def bucketFiles(store: String): Map[String, Set[String]] = {
    val root = new java.io.File(s"$store/postings")
    root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getName}:${f.lastModified}:${f.length}").toSet)
      .toMap
  }

  test("q263 build tokenizes ONCE: no InferFiltersFromGenerate clone (the " +
       "q214 trap) and the df/denorm join reads the checkpointed TF, " +
       "never a second corpus pass") {
    // the lazy postings view: exactly one tokenize per traversal, and no
    // size(split(..)) filter cloned into the scan
    val lazyPlan = operators.Retrieval.postingsOf(docs)
      .queryExecution.optimizedPlan.toString
    assert(!lazyPlan.contains("size(split"),
      s"generate filter cloned the tokenizer into the scan:\n$lazyPlan")
    // the BUILD path: TF is materialized once, so the executed plan that
    // feeds the parquet write contains NO tokenizer at all — both join
    // inputs scan the checkpoint
    val built = operators.Retrieval.buildPostings(docs)
    built.collect(): Unit
    val builtPlan = built.queryExecution.executedPlan.toString
    assert("split\\(".r.findAllIn(builtPlan).isEmpty,
      s"build re-tokenizes the corpus past the checkpoint:\n$builtPlan")
    assert(!builtPlan.contains("FileScan parquet"),
      s"build re-reads the corpus past the checkpoint:\n$builtPlan")
  }

  test("text upsert rewrites ONLY the batch-vocabulary buckets; " +
       "unaffected bucket files are untouched on disk; replay is a no-op") {
    val store = operators.Retrieval.buildTextBase(spark, dir)
    val oneDoc = docs.filter(col("doc_id") === 3L) // % 7 == 3: not in base
    val before = bucketFiles(store)
    val affected = operators.Retrieval.textUpsert(spark, store, oneDoc)
    assert(affected.nonEmpty, "one-doc batch affected no buckets")
    val after = bucketFiles(store)
    val affectedDirs = affected.map(b => s"bucket=$b").toSet
    val untouched = before.keySet -- affectedDirs
    assert(untouched.nonEmpty,
      "fixture degenerate: every bucket affected — pin is vacuous")
    untouched.foreach { b =>
      assert(after(b) === before(b), s"unaffected $b was rewritten")
    }
    affectedDirs.filter(before.contains).foreach { b =>
      assert(after.get(b).forall(_ != before(b)), s"affected $b not rewritten")
    }
    // replay: the same batch is already merged — zero writes anywhere
    assert(operators.Retrieval.textUpsert(spark, store, oneDoc).isEmpty)
    assert(bucketFiles(store) === after, "idempotent replay touched disk")
  }

  test("text upsert commits an exact incremental stats version") {
    val store = operators.Retrieval.buildTextBase(spark, dir)
    val (v1, n1, dl1) = operators.Retrieval.latestTextStats(spark, store)
    assert(v1 === 1L)
    val oneDoc = docs.filter(col("doc_id") === 3L)
    operators.Retrieval.textUpsert(spark, store, oneDoc): Unit
    val (v2, n2, dl2) = operators.Retrieval.latestTextStats(spark, store)
    val dl3 = oneDoc
      .select(size(split(lower(col("text")), "\\s+")).cast("long").as("dl"))
      .first().getLong(0)
    assert(v2 === 2L && n2 === n1 + 1 && dl2 === dl1 + dl3)
  }

  test("text compaction rewrites ONLY tombstone-affected buckets, clears " +
       "the side table, decrements stats exactly, and is idempotent") {
    val store = operators.Retrieval.textLifecycleStore(spark, dir, merges = 1)
    val (v2, n2, dl2) = operators.Retrieval.latestTextStats(spark, store)
    // tombstone ONE doc so some buckets stay unaffected
    operators.Retrieval.textDelete(spark, store,
      docs.filter(col("doc_id") === 5L))
    val before = bucketFiles(store)
    val affected = operators.Retrieval.textCompact(spark, store)
    assert(affected.nonEmpty)
    val after = bucketFiles(store)
    val affectedDirs = affected.map(b => s"bucket=$b").toSet
    val untouched = before.keySet -- affectedDirs
    assert(untouched.nonEmpty, "fixture degenerate: every bucket affected")
    untouched.foreach { b =>
      assert(after(b) === before(b), s"unaffected $b was rewritten")
    }
    affectedDirs.foreach { b =>
      assert(after.get(b).forall(_ != before(b)), s"affected $b not rewritten")
    }
    assert(spark.read.parquet(s"$store/tombstones").count() === 0L)
    val (v3, n3, dl3) = operators.Retrieval.latestTextStats(spark, store)
    val dlDeleted = docs.filter(col("doc_id") === 5L)
      .select(size(split(lower(col("text")), "\\s+")).cast("long").as("dl"))
      .first().getLong(0)
    assert(v3 === v2 + 1 && n3 === n2 - 1 && dl3 === dl2 - dlDeleted)
    // a second compaction is a no-op (idempotent verb)
    assert(operators.Retrieval.textCompact(spark, store).isEmpty)
    assert(bucketFiles(store) === after)
  }

  test("q267 serve-after-upsert enumerates q150 row-for-row (lifecycle " +
       "round trip invisible to serving)") {
    val fresh = operators.Retrieval.q150Bm25TopK(spark, dir)
      .collect().map(_.toSeq).toSeq
    val served = operators.Retrieval.q267TextUpsertQuery(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served === fresh)
  }

  test("compacted store ≡ fresh build over the live corpus, posting for " +
       "posting (df re-derivation in affected buckets is globally exact)") {
    val store = operators.Retrieval.textCompactedStore(spark, dir)
    val live = docs.filter(
      col("doc_id") % operators.Retrieval.TextDeleteStride
        =!= operators.Retrieval.TextDeleteResidue)
    val rebuilt = operators.Retrieval.postingsOf(live)
      .select(col("bucket").cast("long"), col("term"), col("doc_id"),
        col("tf"), col("dl"), col("df"))
      .collect().map(_.toSeq).toSet
    val compacted = spark.read.parquet(s"$store/postings")
      .select(col("bucket").cast("long"), col("term"), col("doc_id"),
        col("tf"), col("dl"), col("df"))
      .collect().map(_.toSeq).toSet
    assert(compacted === rebuilt)
  }

  test("q271 hybrid-from-stores enumerates q239 row-for-row (the two " +
       "persisted indexes compose)") {
    val fresh = operators.Retrieval.q239HybridRetrieval(spark, dir)
      .collect().map(_.toSeq).toSeq
    val served = operators.Retrieval.q271HybridFromStores(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served === fresh)
  }

  test("q272 streaming text upsert: one stats version per non-empty " +
       "micro-batch, none for the replay; final state ≡ the unbatched " +
       "merge") {
    val store = operators.Retrieval.streamingTextStore(spark, dir)
    // v1 build + three non-empty micro-batches (residues 2/0/1); the
    // replayed residue-0 batch commits NOTHING
    val (v, n, _) = operators.Retrieval.latestTextStats(spark, store)
    assert(v === 4L, s"stats version $v != 4 (replay committed a version?)")
    assert(n === docs.count())
    val streamed = spark.read.parquet(s"$store/postings")
      .select(col("bucket").cast("long"), col("term"), col("doc_id"),
        col("tf"), col("dl"), col("df"))
      .collect().map(_.toSeq).toSet
    val unbatched = operators.Retrieval.postingsOf(docs)
      .select(col("bucket").cast("long"), col("term"), col("doc_id"),
        col("tf"), col("dl"), col("df"))
      .collect().map(_.toSeq).toSet
    assert(streamed === unbatched)
  }

  test("lifecycle serving read is directory-pruned: files scanned " +
       "strictly below the full store") {
    val store = operators.Retrieval.textLifecycleStore(spark, dir, merges = 1)
    val read = operators.Retrieval.lifecycleServingRead(spark, store)
    read.collect(): Unit // metrics populate on execution
    val scan = read.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.toString.contains("PartitionFilters: ["))
    val total = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Path.of(store, "postings"))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val scanned = scan.metrics("numFiles").value
    assert(scanned > 0 && scanned < total,
      s"scanned $scanned of $total posting files — no pruning")
  }
}
