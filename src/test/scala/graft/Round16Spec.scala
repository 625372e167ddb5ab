package graft

import org.apache.spark.sql.functions._

/** Round-16 optimization pins: the rewritten internals must stay
  * row-identical to the spellings they replaced (the oracle re-proves the
  * registry surface; these pin the INTERNAL equivalences directly so a
  * future edit can't silently split the paths).
  */
class Round16Spec extends SparkSpec {

  private def cpBoth = {
    import spark.implicits._
    val cp = ops.GraphOps.copurchase(spark, sf).select($"a", $"b")
    cp.unionAll(cp.select($"b".as("a"), $"a".as("b")))
  }

  private def landmarks(n: Int) = {
    import spark.implicits._
    Tables.part(spark, sf).orderBy($"p_partkey").limit(n)
      .select($"p_partkey".as("src"))
  }

  test("brandesBackward (shared-DAG) deltas equal brandesDeltasOn; DAG credits equal the 3-way join") {
    import api.Ckpt._
    val both = cpBoth.cp()
    val sigma = api.GraphAlgebra.multiBfsSigmaOn(both, landmarks(8), maxHops = 6)
    val (dagDeltas, dagE) = api.GraphAlgebra.brandesBackward(both, sigma)
    val levDeltas = api.GraphAlgebra.brandesDeltasOn(both, sigma)
    def dset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(dset(dagDeltas) === dset(levDeltas))
    val viaDag = api.GraphAlgebra
      .brandesEdgeCreditsDag(dagE, dagDeltas, sigma.count())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val viaJoin = api.GraphAlgebra
      .brandesEdgeCreditsOn(both, sigma, levDeltas)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(viaDag === viaJoin)
    assert(viaDag.nonEmpty)
  }

  test("temporal_reach week-band pre-key is pair-lossless (matches the unbanded join)") {
    import spark.implicits._
    // the unbanded reference pair stream, folded to the op's output shape
    val tx = Tables.events(spark, sf)
      .select($"user_id".as("u"),
        get_json_object($"props", "$.k").cast("long").as("item"),
        unix_millis($"ts").as("ms"))
      .filter($"item".isNotNull)
      .groupBy($"item", $"u").agg(min($"ms").as("ms"))
    val ref = tx.as("a")
      .join(tx.as("b"), $"a.item" === $"b.item" &&
        $"b.ms" > $"a.ms" && $"b.ms" <= $"a.ms" + 604800000L &&
        $"a.u" =!= $"b.u")
      .groupBy($"a.u".as("user_id"), $"b.u".as("bu"))
      .agg(count(lit(1)).as("np"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("reach"), sum($"np").as("n_paths"))
      .orderBy($"reach".desc, $"n_paths".desc, $"user_id")
      .limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = SparkEntry.queries("graph_temporal_reach")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === ref)
  }

  test("pageRankBatch lazy anti-join teleport: batch slice still equals single-source PPR") {
    import spark.implicits._
    // re-pin the ApiSpec contract on the rewritten iteration: per source,
    // the batch op's nonzero ranks are bit-identical to pageRankExact
    val both = cpBoth
    val verts = Tables.part(spark, sf).select($"p_partkey".as("part"))
    val batch = api.GraphAlgebra.pageRankBatch(verts, both, Seq(3L), iters = 4)
      .filter($"s" === 3L).select($"part", $"r")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val single = api.GraphAlgebra
      .pageRankExact(verts, both, iters = 4, personalized = Some(3L))
      .filter($"r" =!= 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // batch state is support-sparse: compare on the nonzero support
    single.foreach { case (p, r) =>
      assert(batch.getOrElse(p, 0L) === r, s"part $p")
    }
  }
}
