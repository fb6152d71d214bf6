package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** Oracle TYPE lint — the q163 class of bug, made impossible to recur.
  *
  * The driver hashes (value, type) pairs, so an oracle whose DuckDB output
  * type differs from the Spark schema mismatches even when every value
  * agrees: DuckDB types an un-cast `sum(BIGINT)` as HUGEINT while Spark
  * emits BIGINT (that exact slip cost q163 a round). This spec binds EVERY
  * `SparkEntry.oracleSql` entry in DuckDB (via `tools/oracle_type_lint.py`
  * — bind only, nothing executes), builds every corresponding Spark plan,
  * and asserts:
  *
  *   1. column-name sets match (the driver sorts by name before hashing);
  *   2. each DuckDB column type equals the Spark type's DuckDB image;
  *   3. HUGEINT never reaches any oracle's output, anywhere.
  *
  * Plus a canary: a deliberately un-cast `sum(...)` must be flagged, so
  * the lint itself is proven red-capable.
  *
  * Requires the driver toolchain's python3+duckdb; if absent the suite
  * cancels (it cannot weaken into a green pass).
  */
class OracleTypeLintSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val duckAvailable: Boolean =
    try Seq("python3", "-c", "import duckdb").! == 0
    catch { case _: Throwable => false }

  /** The DuckDB image of a Spark type (None = no strict expectation, e.g.
    * structs; rule 3 still applies to those columns). */
  private def duckOf(dt: DataType): Option[String] = dt match {
    case LongType          => Some("BIGINT")
    case IntegerType       => Some("INTEGER")
    case ShortType         => Some("SMALLINT")
    case ByteType          => Some("TINYINT")
    case DoubleType        => Some("DOUBLE")
    case FloatType         => Some("FLOAT")
    case StringType        => Some("VARCHAR")
    case BooleanType       => Some("BOOLEAN")
    case DateType          => Some("DATE")
    case BinaryType        => Some("BLOB")
    case TimestampType     => Some("TIMESTAMP")
    case d: DecimalType    => Some(s"DECIMAL(${d.precision},${d.scale})")
    case ArrayType(et, _)  => duckOf(et).map(_ + "[]")
    case _                 => None
  }

  /** TIMESTAMP flavors are hash-equivalent under the driver (both engines
    * render micros); everything else is exact. */
  private def typeMatches(duck: String, expected: String): Boolean =
    duck == expected ||
      (expected == "TIMESTAMP" && duck.startsWith("TIMESTAMP"))

  private def describeInDuck(
      sqls: Map[String, String]): Map[String, Either[String, Seq[(String, String)]]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods._
    implicit val formats: Formats = DefaultFormats
    val in = java.io.File.createTempFile("oracle_sqls", ".json")
    val out = java.io.File.createTempFile("oracle_types", ".json")
    try {
      val payload = compact(render(
        JObject(sqls.toList.map { case (k, v) => k -> JString(v) })))
      java.nio.file.Files.write(in.toPath,
        payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val rc = Seq("python3", "tools/oracle_type_lint.py",
        in.getAbsolutePath, dir, out.getAbsolutePath).!
      assert(rc == 0, s"oracle_type_lint.py exited $rc")
      val parsed = parse(new String(
        java.nio.file.Files.readAllBytes(out.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
      parsed.asInstanceOf[JObject].obj.map { case (name, desc) =>
        val o = desc.asInstanceOf[JObject]
        val err = (o \ "error").toOption.collect { case JString(s) => s }
        name -> (err match {
          case Some(e) => Left(e)
          case None =>
            val cols = (o \ "cols").extract[List[String]]
            val types = (o \ "types").extract[List[String]]
            Right(cols.zip(types))
        })
      }.toMap
    } finally { in.delete(); out.delete(); () }
  }

  test("canary: an un-cast integer sum binds as HUGEINT and is flagged") {
    assume(duckAvailable, "python3+duckdb not on this host")
    val bad = Map("canary" ->
      "SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)")
    val Right(cols) = describeInDuck(bad)("canary"): @unchecked
    assert(cols === Seq("s" -> "HUGEINT"))
    // the comparator must reject it against the Spark BIGINT it would face
    assert(!typeMatches("HUGEINT", "BIGINT"))
  }

  test("every oracle's DuckDB column names and types match the Spark " +
       "schema; HUGEINT reaches no output") {
    assume(duckAvailable, "python3+duckdb not on this host")
    val described = describeInDuck(SparkEntry.oracleSql)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if SparkEntry.oracleSql.contains(name)) {
      described(name) match {
        case Left(err) => problems += s"$name: oracle failed to bind: $err"
        case Right(duckCols) =>
          duckCols.collect { case (c, t) if t.contains("HUGEINT") => c }
            .foreach(c => problems += s"$name.$c: HUGEINT reaches output " +
              "(un-cast integer sum — the q163 bug class)")
          val sparkSchema = fn(spark, dir).schema
          val sparkByName = sparkSchema.fields.map(f => f.name -> f.dataType).toMap
          val duckNames = duckCols.map(_._1).toSet
          val sparkNames = sparkByName.keySet
          if (duckNames != sparkNames)
            problems += s"$name: column sets differ — " +
              s"oracle-only=${(duckNames -- sparkNames).toSeq.sorted.mkString(",")} " +
              s"spark-only=${(sparkNames -- duckNames).toSeq.sorted.mkString(",")}"
          else
            for {
              (c, duckT) <- duckCols
              expected   <- duckOf(sparkByName(c))
              if !typeMatches(duckT, expected)
            } problems += s"$name.$c: oracle=$duckT spark-expects=$expected"
      }
    }
    assert(problems.isEmpty,
      s"\n${problems.size} oracle typing problem(s):\n  " +
        problems.mkString("\n  "))
  }
}
