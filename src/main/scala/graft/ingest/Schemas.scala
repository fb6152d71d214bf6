package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Schema contract check — the reference's `check-schema` command
  * (SURVEY §0: chainweb-data lib/ChainwebDb/Migration.hs:58-93 verifies the
  * ORM model against the live DB). Here the single source of truth is the
  * [[Flatten]] program itself: expected schemas are derived by running the
  * flatteners over an empty parsed batch, so the check can never drift from
  * the code.
  */
object Schemas {

  /** Expected (name → schema) for the six tables. */
  def expected(spark: SparkSession): Map[String, StructType] = {
    import spark.implicits._
    Flatten.allTables(Flatten.parseEnvelopes(Seq.empty[String].toDF("value")))
      .map { case (n, (df, _)) => n -> df.schema }
  }

  /** Nullability-insensitive field comparison (parquet round-trips relax
    * nullable). Returns per-table mismatch descriptions; empty = pass. */
  def check(spark: SparkSession, tableDir: String): Map[String, String] =
    expected(spark).flatMap { case (name, want) =>
      val path = s"$tableDir/$name"
      def canon(s: StructType): Seq[(String, String)] =
        s.fields.map(f => (f.name, f.dataType.sql)).toSeq
      try {
        val got = spark.read.parquet(path).schema
        if (canon(got) == canon(want)) None
        else Some(name -> s"expected ${canon(want)}, found ${canon(got)}")
      } catch {
        case e: Exception => Some(name -> s"unreadable: ${e.getMessage}")
      }
    }
}
