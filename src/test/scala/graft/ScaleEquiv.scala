package graft
import org.apache.spark.sql.DataFrame

/** Scale-equivalence audit (round 13, VERDICT r12 item 1): the one hole
  * in the verification lattice was that the 272-query DuckDB oracle runs
  * only at sf0.01/sf0.1, while several operators carry N-RELATIVE
  * constants whose behavior changes with corpus size — exactly the bug
  * class two small SFs cannot catch:
  *
  *  - q139's relative df cut (`df > N/5`, SimJoin.scala) — the cut set
  *    GROWS with N; the claim "cutting them loses no qualifying pair"
  *    was verified at two small points only.
  *  - q92's absolute df cut (`df > 12`) — same claim, absolute form.
  *  - q97's LSH banding — "emitted ⊆ exact" must survive a vocabulary 3×
  *    wider (band-hash collisions across replicas).
  *  - q109's B×B grid — grid width B = ceil(cell/maxCell) derives from
  *    per-label counts that scale with N.
  *
  * DuckDB's naive all-pairs oracles don't survive replica scale, so this
  * audit uses ENGINE-INTERNAL equality on the 3× replica
  * (tools/gen_scale.py): each cut/blocked/gridded operator against its
  * own uncut/ungridded form — the semantics-defining pin, independent of
  * any external oracle:
  *
  *   q92 ≡ q82        (absolute df cut loses nothing)
  *   q139 ≡ q93       (relative df cut loses nothing)
  *   q97 ⊆ q93        (LSH candidates never invent a pair)
  *   q109[grid] ≡ q109[maxCell=∞]   (grid decomposition is exact)
  *
  * Emits one JSON line (`{"scale_equiv":...}`) the measurement chain
  * records as SCALE_EQUIV_<tag>.json; exit 1 on any violation. Wired into
  * tools/measure.sh after the replicas generate.
  */
object ScaleEquiv {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("scaledata/sf03")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // share the ranked-posting leaves across the cut/uncut twins — the
    // same relation both consume in production; results are
    // bit-identical either way (the flag only persists the leaf)
    val spark = GraftSession(s"local[$cpus]", shareLeaves = true)
    spark.sparkContext.setLogLevel("WARN")

    // Materialize each side once (localCheckpoint) so the two exceptAll
    // legs don't recompute the heavy join; the pair lists are bounded
    // (near-dup output, not candidates).
    def mat(df: DataFrame): DataFrame = df.localCheckpoint()

    def equalCheck(name: String, a: => DataFrame, b: => DataFrame)
        : (String, Map[String, Any]) = {
      val (ma, mb) = (mat(a), mat(b))
      val (na, nb) = (ma.count(), mb.count())
      val extra = ma.exceptAll(mb).count()
      val missing = mb.exceptAll(ma).count()
      (name, Map("rows_a" -> na, "rows_b" -> nb,
                 "extra" -> extra, "missing" -> missing,
                 "pass" -> (extra == 0 && missing == 0)))
    }
    def subsetCheck(name: String, sub: => DataFrame, sup: => DataFrame)
        : (String, Map[String, Any]) = {
      val (ms, mp) = (mat(sub), mat(sup))
      val (ns, np) = (ms.count(), mp.count())
      val invented = ms.exceptAll(mp).count()
      (name, Map("rows_sub" -> ns, "rows_super" -> np,
                 "invented" -> invented, "pass" -> (invented == 0)))
    }

    import graft.operators.{Dedup, SimJoin}
    val checks = Seq(
      equalCheck("q92_eq_q82_absolute_df_cut",
        SimJoin.q92JaccardJoinMaxDf(spark, dir),
        SimJoin.q82JaccardJoin(spark, dir)),
      equalCheck("q139_eq_q93_relative_df_cut",
        SimJoin.q139WeightedJaccardMaxDf(spark, dir),
        SimJoin.q93WeightedJaccardJoin(spark, dir)),
      subsetCheck("q97_subset_q93_lsh_never_invents",
        SimJoin.q97WeightedLshNearDup(spark, dir),
        SimJoin.q93WeightedJaccardJoin(spark, dir)), {
        // grid leg first under a knob that FORCES multi-block cells at
        // this scale (mirrors Round12Spec's pin, here at replica N):
        // maxCell = largest-cell/4 guarantees B >= 4 on at least one
        // label whatever the replica geometry; then the ungridded
        // reference (maxCell far above any cell)
        import org.apache.spark.sql.functions.{col, count, lit, max}
        val biggestCell = Tables.embeddings(spark, dir)
          .groupBy(col("label")).agg(count(lit(1)).as("c"))
          .agg(max(col("c"))).first().getLong(0)
        require(biggestCell >= 8,
          s"replica cells too small ($biggestCell rows) to engage the grid")
        spark.conf.set("spark.graft.semdedup.maxCell",
                       math.max(1L, biggestCell / 4).toString)
        val gridded = mat(Dedup.q109SemanticDedup(spark, dir))
        gridded.count(): Unit // force before the conf flips
        spark.conf.set("spark.graft.semdedup.maxCell", "1000000000")
        val direct = mat(Dedup.q109SemanticDedup(spark, dir))
        spark.conf.unset("spark.graft.semdedup.maxCell")
        equalCheck("q109_grid_eq_ungridded", gridded, direct)
      })

    def jval(v: Any): String = v match {
      case b: Boolean => b.toString
      case n: Long => n.toString
      case other => "\"" + other.toString + "\""
    }
    val body = checks.map { case (name, m) =>
      "\"" + name + "\":" +
        m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + jval(v) }
          .mkString("{", ",", "}")
    }.mkString(",")
    val allPass = checks.forall(_._2("pass") == true)
    println(s"""{"scale_equiv":{"dir":"$dir","all_pass":$allPass,"checks":{$body}}}""")
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
