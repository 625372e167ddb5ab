package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{GraphAlgebra, TextPipeline, VectorIndex}

/** The public API layer must (a) run on arbitrary caller DataFrames, not
  * just the fixtures, and (b) agree with the oracle-checked registry ops
  * when instantiated over the same inputs.
  */
class ApiSpec extends SparkSpec {

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

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

  test("GraphAlgebra.project + triangles on a hand-built incidence") {
    import spark.implicits._
    // contexts: {1:a,b,c} {2:a,b} -> pairs (a,b)w2 (a,c)w1 (b,c)w1 -> 1 triangle
    val inc = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"))
      .toDF("ctx", "item")
    val pairs = GraphAlgebra.project(inc, "ctx", "item")
    val got = pairs.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
    val tri = GraphAlgebra.triangles(pairs).head()
    assert(tri.getLong(0) === 1L && tri.getLong(1) === 3L)
  }

  test("GraphAlgebra.matchPattern on a hand-built graph: bindings, predicates, injectivity") {
    import spark.implicits._
    import graft.api.EdgePattern
    // 1->2 (w5), 2->3 (w4), 1->3 (w1), 3->1 (w2), 2->4 (w1), 4->2 (w9)
    val e = Seq((1L, 2L, 5L), (2L, 3L, 4L), (1L, 3L, 1L), (3L, 1L, 2L),
      (2L, 4L, 1L), (4L, 2L, 9L)).toDF("src", "dst", "w")
    // triangle template a->b->c with closing a->c, w(ab) >= 3
    val tri = GraphAlgebra.matchPattern(e, Seq(
        EdgePattern("a", "b", col("w") >= 3, keepW = Some("wab")),
        EdgePattern("b", "c", keepW = Some("wbc")),
        EdgePattern("a", "c")))
      .select($"a", $"b", $"c", $"wab", $"wbc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // only 1->2->3 closes with 1->3; 4->2->3 has no 4->3; 2->3->1 has no 2->1
    assert(tri === Set((1L, 2L, 3L, 5L, 4L)))
    // plain 2-path template, no predicate: every a->b->c with a != c
    val p2 = GraphAlgebra.matchPattern(e, Seq(
        EdgePattern("a", "b"), EdgePattern("b", "c")))
      .select($"a", $"b", $"c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(p2 === Set((1L, 2L, 3L), (1L, 2L, 4L), (2L, 3L, 1L),
      (3L, 1L, 2L), (4L, 2L, 3L), (1L, 3L, 1L), (2L, 4L, 2L), (3L, 1L, 3L),
      (4L, 2L, 4L)).filter(t => t._1 != t._3))
    // injectivity off: the cyclic walks (a = c) come back
    val walks = GraphAlgebra.matchPattern(e, Seq(
        EdgePattern("a", "b"), EdgePattern("b", "c")),
      distinctVars = false)
      .select($"a", $"b", $"c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(walks.contains((1L, 3L, 1L)) && walks.contains((2L, 4L, 2L)))
    assert((walks -- p2).forall(t => t._1 == t._3))
    // disconnected templates are rejected loudly
    assertThrows[IllegalArgumentException] {
      GraphAlgebra.matchPattern(e, Seq(
        EdgePattern("a", "b"), EdgePattern("x", "y")))
    }
  }

  test("GraphAlgebra.boundedReach: min-hop pairs, level dedup, hop cap") {
    import spark.implicits._
    // chain 1->2->3->4->5 plus shortcut 1->3 and cycle edge 3->1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst").withColumn("w", lit(1L))
    val r3 = GraphAlgebra.boundedReach(e, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // min-hop semantics: 1->3 is 1 hop (shortcut), never the 2-hop path;
    // 1->1 is reachable (1->3->1) at 2 hops; 1->5 needs 3 hops via the
    // shortcut (1->3->4->5), not 4 via the chain
    assert(r3((1L, 3L)) === 1L && r3((1L, 4L)) === 2L && r3((1L, 5L)) === 3L)
    assert(r3((1L, 1L)) === 2L && r3((2L, 1L)) === 2L && r3((3L, 3L)) === 2L)
    assert(r3((2L, 5L)) === 3L && r3((2L, 2L)) === 3L) // 2->3->4->5, 2->3->1->2
    // the hop cap truncates: at maxHops=2 the 3-hop pairs are absent
    val r2 = GraphAlgebra.boundedReach(e, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!r2.contains((1L, 5L)) && !r2.contains((2L, 5L)) &&
      r2.contains((1L, 4L)))
    // every pair appears exactly once (the level anti-join dedups)
    val all = GraphAlgebra.boundedReach(e, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length === all.distinct.length)
    assertThrows[IllegalArgumentException](GraphAlgebra.boundedReach(e, 5))
  }

  test("GraphAlgebra.matchPattern: 5-edge templates and variable-length edges") {
    import spark.implicits._
    import graft.api.EdgePattern
    // chain 1..6 with weights 5,4,3,2,1 and a closing 1->6 edge (w9)
    val e = Seq((1L, 2L, 5L), (2L, 3L, 4L), (3L, 4L, 3L), (4L, 5L, 2L),
      (5L, 6L, 1L), (1L, 6L, 9L)).toDF("src", "dst", "w")
    // 5-edge template: the full chain a->b->c->d->f->g (past the old 3 cap)
    val chain5 = GraphAlgebra.matchPattern(e, Seq(
        EdgePattern("a", "b", keepW = Some("w1")),
        EdgePattern("b", "c"), EdgePattern("c", "d"),
        EdgePattern("d", "f"), EdgePattern("f", "g", keepW = Some("w5"))))
      .select($"a", $"b", $"c", $"d", $"f", $"g", $"w1", $"w5").collect()
      .map(r => (0 to 7).map(r.getLong).toList).toSet
    assert(chain5 === Set(List(1L, 2L, 3L, 4L, 5L, 6L, 5L, 1L)))
    assertThrows[IllegalArgumentException] {
      GraphAlgebra.matchPattern(e, Seq.fill(6)(EdgePattern("a", "b")))
    }
    // var-length edge a -[*1..3]-> b closed by a direct a->b edge:
    // 1 ~[1..3 hops]~ 6 only via the 9-weight closing edge (1 hop) since
    // the chain needs 5; 1 ~..~ 4 is 3 hops but has no closing edge
    val varm = GraphAlgebra.matchPattern(e, Seq(
        EdgePattern("a", "b", keepW = Some("w_direct")),
        EdgePattern("a", "b", minHops = 2, maxHops = 3,
          keepHops = Some("h")))) // same endpoints: path must ALSO exist
      .select($"a", $"b", $"w_direct", $"h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // direct edges that also admit a 2-3 hop parallel path: only 1->4? no —
    // direct edges are 1->2,2->3,3->4,4->5,5->6,1->6; parallel 2-3 hop
    // paths exist for 1->4 (no direct) and 1->6? 1->6 needs 5 chain hops.
    // So no binding survives... EXCEPT none. Assert empty, then loosen:
    assert(varm.isEmpty)
    // a var-length FIRST edge binds pairs by min-hop distance
    val hops = GraphAlgebra.matchPattern(e, Seq(
        EdgePattern("a", "b", minHops = 2, maxHops = 4,
          keepHops = Some("h"))))
      .select($"a", $"b", $"h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hops.contains((1L, 3L, 2L)) && hops.contains((1L, 5L, 4L)))
    assert(hops.contains((2L, 6L, 4L)) && !hops.contains((1L, 6L, 5L)))
    assert(!hops.exists(t => t._3 < 2L || t._3 > 4L))
    // keepW on a var-length edge is rejected loudly
    assertThrows[IllegalArgumentException] {
      GraphAlgebra.matchPattern(e, Seq(EdgePattern("a", "b",
        maxHops = 2, keepW = Some("w"))))
    }
  }

  test("GraphAlgebra.commonNeighbors over the purchase adjacency equals the registry op") {
    import spark.implicits._
    val inc = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), $"l_orderkey" === $"o_orderkey")
    val adj = GraphAlgebra.adjacency(inc, "o_custkey", "l_partkey")
    val api = GraphAlgebra.commonNeighbors(adj, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val reg = q("graph_common_neighbors").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(api === reg)
  }

  test("GraphAlgebra.trending equals the registry op over events") {
    import spark.implicits._
    val api = GraphAlgebra.trending(
      Tables.events(spark, sf)
        .select(get_json_object($"props", "$.k").cast("long").as("i"),
          unix_millis($"ts").as("m"), $"value"),
      col("i"), col("m"), col("value"), decayDays = 7.0, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val reg = q("graph_trending").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(api === reg)
  }

  test("TextPipeline near-dup and LSH agree with registry ops on the corpus") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val near = TextPipeline.dedupNear(docs, $"doc_id", $"text", 0.6)
      .orderBy("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val regNear = q("llm_dedup_near").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(near === regNear)
    val lsh = TextPipeline.minhashLsh(docs, $"doc_id", $"text", 0.5)
      .orderBy("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val regLsh = q("llm_dedup_minhash").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lsh === regLsh)
  }

  test("TextPipeline works on a caller-supplied corpus (not the fixture)") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma delta epsilon"), // exact dup of 10
      (12L, "alpha beta gamma delta zeta"),    // near dup
      (13L, "one two three four five six")
    ).toDF("id", "body")
    val exact = TextPipeline.dedupExact(corpus, $"id", $"body")
      .collect().map(r => r.getLong(r.fieldIndex("keep_id")) ->
        r.getLong(r.fieldIndex("n_dups"))).toMap
    assert(exact(10L) === 2L) // 10 survives for {10, 11}
    val near = TextPipeline.dedupNear(corpus, $"id", $"body", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.contains((10L, 11L)) && near.contains((10L, 12L)))
    val fp = TextPipeline.fingerprint(corpus, $"id", $"body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(10L) === fp(11L))
    assert(fp(10L) !== fp(13L))
  }

  test("VectorIndex.topK and simJoin equal the registry similarity ops") {
    import spark.implicits._
    val idx = VectorIndex.index(Tables.embeddings(spark, sf), $"vec_id", $"embedding")
    val api = VectorIndex.topK(idx, probeId = 0L, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val reg = q("llm_sim_search").collect()
      .map(r => (r.getLong(0), r.getDouble(r.fieldIndex("cos")))).toSeq
    assert(api === reg)
    val block = Tables.embeddings(spark, sf).select($"vec_id", $"label".as("block"))
    val apiJoin = VectorIndex.simJoin(idx, block, 0.3)
      .orderBy("p1", "p2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val regJoin = q("llm_sim_join").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(apiJoin === regJoin)
  }

  test("Multimodal pipeline: decode -> resize -> frames -> features on caller payloads") {
    import spark.implicits._
    import graft.api.Multimodal
    val payloads = Seq(
      Multimodal.Payload(1L, Array.tabulate(200)(_.toByte)),
      Multimodal.Payload(2L, Array.tabulate(40)(i => (i * 3).toByte)),
      Multimodal.Payload(3L, Array.empty[Byte])
    ).toDS()
    val decoded = Multimodal.decode(payloads).collect().map(d => d.id -> d).toMap
    assert(decoded(1L).n_bytes === 200L && decoded(3L).n_bytes === 0L)
    val resized = Multimodal.resize(Multimodal.decode(payloads), maxSide = 10)
      .collect()
    resized.foreach(d => assert(math.max(d.width, d.height) <= 10))
    val frames = Multimodal.sampleFrames(payloads, frameBytes = 16, stride = 2)
      .collect().groupBy(_.id)
    assert(frames(1L).map(_.frame_idx).toSeq.sorted === Seq(0L, 2L, 4L, 6L, 8L, 10L))
    assert(frames(2L).map(_.frame_idx).toSeq === Seq(0L)) // 40/16 = 2 frames, stride 2 -> idx 0
    assert(!frames.contains(3L)) // empty payload -> no frames
    val feats = Multimodal.frameFeatures(Multimodal.sampleFrames(payloads, 16, 2))
    assert(feats.count() > 0)
    assert(feats.filter(col("energy") < 0).count() === 0)
  }

  test("Codec seam: stub default bit-identical, -Dgraft.codec.class swaps kernels in") {
    import spark.implicits._
    import graft.api.{Codec, Multimodal, StubCodec}
    // nothing configured -> the deterministic stub, with the PRE-SEAM
    // arithmetic pinned by value (w = n mod 64 + 1, h = n div w)
    assert(Codec.active eq StubCodec)
    val bytes = Array.tabulate(200)(_.toByte)
    val payloads = Seq(Multimodal.Payload(1L, bytes)).toDS()
    val d = Multimodal.decode(payloads).collect().head
    assert((d.width, d.height) === StubCodec.imageDims(bytes))
    assert((d.width, d.height) === (9, 22))
    assert(Multimodal.windowEnergy(payloads, 32, 16).collect()
      .forall(w => w.energy === StubCodec.windowFeature(bytes, (w.win_idx * 16).toInt, 32)))
    // the documented swap-in: a class name on the property, no operator edits
    System.setProperty(Codec.ClassProp, classOf[FixedDimsTestCodec].getName)
    try {
      assert(Codec.active.isInstanceOf[FixedDimsTestCodec])
      val swapped = Multimodal.decode(payloads).collect().head
      assert((swapped.width, swapped.height) === (7, 7))
      assert(Multimodal.windowEnergy(payloads, 32, 16).collect().forall(_.energy === 42L))
    } finally System.clearProperty(Codec.ClassProp)
    // and back: the cache keys on the configured name
    assert(Codec.active eq StubCodec)
    assert((Multimodal.decode(payloads).collect().head.width) === 9)
  }

  test("VectorIndex IVF on caller vectors finds the planted neighbor") {
    import spark.implicits._
    // 2-d toy vectors: two tight clusters around (1,0) and (0,1)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),     // centroids
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.95f, 0.05f)),
      (4L, Array(0.1f, 0.9f))
    ).toDF("vid", "emb")
    val idx = VectorIndex.index(vecs, $"vid", $"emb")
    val cents = idx.filter($"vec_id" < 2)
      .select($"vec_id".as("cid"), $"embedding".as("ce"), $"nrm".as("cn"))
    val assigned = VectorIndex.ivfAssign(idx, cents)
    val got = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) === 0L && got(3L) === 0L && got(4L) === 1L)
    val res = VectorIndex.ivfSearch(assigned, probeId = 2L, k = 2).collect()
    assert(res.map(_.getLong(0)).toSet === Set(0L, 3L)) // own cluster only
  }

  test("TextPipeline signature index: build -> save -> load serves identically to end-to-end") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val sig = TextPipeline.minhashSignatures(docs, $"doc_id", $"text")
    val path = Scratch.dir("apispec_minhash_sig")
    TextPipeline.saveSignatures(sig, path)
    val served = TextPipeline.nearDupFromSignatures(
        TextPipeline.loadSignatures(spark, path), docs, $"doc_id", $"text", minJ = 0.5)
      .orderBy($"d1", $"d2").collect().map(_.toSeq).toSeq
    val endToEnd = TextPipeline.minhashLsh(docs, $"doc_id", $"text", minJ = 0.5)
      .orderBy($"d1", $"d2").collect().map(_.toSeq).toSeq
    assert(served === endToEnd)
  }

  test("VectorIndex codebook: train -> save -> load round-trips and serves identically") {
    import spark.implicits._
    val idx = VectorIndex.index(Tables.embeddings(spark, sf), $"vec_id", $"embedding")
    val trained = VectorIndex.codebookFor(idx, key = s"$sf#apispec", k = 8, maxIter = 5, seed = 42L)
    val path = Scratch.dir("apispec_codebook")
    VectorIndex.saveCodebook(trained, path)
    val loaded = VectorIndex.loadCodebook(spark, path)
    // artifact is the full codebook, bit-identical
    assert(loaded.orderBy($"cid").collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq ===
      trained.orderBy($"cid").collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq)
    // serving from the loaded artifact equals serving from the in-memory codebook
    def serve(cb: org.apache.spark.sql.DataFrame) = {
      val assigned = VectorIndex.ivfAssign(idx, cb)
      VectorIndex.ivfSearchN(assigned, cb, probeId = 42L, k = 5, nprobe = 2)
        .collect().map(_.toSeq).toSeq
    }
    assert(serve(loaded) === serve(trained))
  }

  test("GraphAlgebra.pageRankExact: hub of a star graph tops the ranking") {
    import spark.implicits._
    // star: 1 <-> {2,3,4,5}; both directions
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    val both = pairs.unionAll(pairs.select($"b".as("a"), $"a".as("b")))
    val vertices = (1L to 6L).toDF("part") // 6 is isolated
    val ranks = GraphAlgebra.pageRankExact(vertices, both, iters = 10, personalized = None)
      .orderBy($"r".desc, $"part").collect()
    assert(ranks.head.getLong(0) === 1L, "hub should rank first")
    // isolated vertex holds exactly the constant reset mass (1e12*15/100/600)
    val iso = ranks.find(_.getLong(0) === 6L).get.getLong(1)
    assert(iso === GraphAlgebra.PrScale * 15 / (6 * 100))
    // total mass is conserved up to truncation loss (never exceeds 1e12)
    assert(ranks.map(_.getLong(1)).sum <= GraphAlgebra.PrScale)
  }

  test("GraphAlgebra iterative ops: gated-off broadcast path is bit-identical") {
    import spark.implicits._
    // broadcastMaxRows = 0 forces the plain-join (100 TB) path; results
    // must match the broadcast-hinted default exactly for every op
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (1L, 6L)).toDF("a", "b")
    val both = pairs.unionAll(pairs.select($"b".as("a"), $"a".as("b")))
    val vertices = (1L to 7L).toDF("part")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq
    assert(
      rows(GraphAlgebra.pageRankExact(vertices, both, 10, None, broadcastMaxRows = 0)) ===
      rows(GraphAlgebra.pageRankExact(vertices, both, 10, None)))
    assert(
      rows(GraphAlgebra.connectedComponentsDf(vertices, pairs, broadcastMaxRows = 0)) ===
      rows(GraphAlgebra.connectedComponentsDf(vertices, pairs)))
    assert(
      rows(GraphAlgebra.bfsHops(both, src = 1L, maxHops = 3, broadcastMaxRows = 0)) ===
      rows(GraphAlgebra.bfsHops(both, src = 1L, maxHops = 3)))
    val sources = Seq(1L, 4L, 7L).toDF("src")
    assert(
      rows(GraphAlgebra.multiBfsHopsPairs(both, sources, maxHops = 3, broadcastMaxRows = 0)) ===
      rows(GraphAlgebra.multiBfsHopsPairs(both, sources, maxHops = 3)))
    assert(
      rows(GraphAlgebra.multiBfsSigma(both, sources, maxHops = 3, broadcastMaxRows = 0)) ===
      rows(GraphAlgebra.multiBfsSigma(both, sources, maxHops = 3)))
    val flow = both.select($"a".as("from"), $"b".as("to"))
    val seeds = Seq(2L, 5L).toDF("id")
    assert(
      rows(GraphAlgebra.reachClosure(seeds, flow, broadcastMaxRows = 0)) ===
      rows(GraphAlgebra.reachClosure(seeds, flow)))
  }

  test("GraphAlgebra.reachClosure: runs to the fixpoint through a cycle, never past it") {
    import spark.implicits._
    // chain 1->2->...->12 closed by 12->1 (a cycle longer than any hop cap
    // the bounded traversals use), 13->1 into the cycle, 14->13 feeding 13
    val flow = ((1L to 11L).map(v => (v, v + 1)) ++
      Seq((12L, 1L), (13L, 1L), (14L, 13L))).toDF("from", "to")
    def closure(seed: Long*) = {
      val got = GraphAlgebra.reachClosure(seed.toDF("id"), flow)
      assert(got.columns.toSeq === Seq("id"))
      val ids = got.collect().map(_.getLong(0)).toSeq
      assert(ids.length === ids.distinct.length, "each vertex is visited once")
      ids.toSet
    }
    // the whole cycle, the seed included; 13 and 14 only point INTO it
    assert(closure(1L) === (1L to 12L).toSet)
    assert(closure(7L) === (1L to 12L).toSet)
    // duplicate seeds collapse; an unreachable-from-the-cycle vertex seeds
    // its own closure, which then takes in the whole cycle
    assert(closure(14L, 14L) === (1L to 14L).toSet)
    // a vertex with no out-edges reaches only itself
    assert(closure(99L) === Set(99L))
  }

  test("multiBfsHops bitmask path is row-identical to the pair-keyed spelling") {
    val both = cpBoth
    val lm = landmarks(8)
    val mask = api.GraphAlgebra.multiBfsHops(both, lm, maxHops = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pairs = api.GraphAlgebra.multiBfsHopsPairs(both, lm, maxHops = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mask === pairs)
    assert(mask.nonEmpty)
  }

  test("multiBfsHops falls back to the pair spelling above the source cap, identically") {
    val both = cpBoth
    val lm = landmarks(api.GraphAlgebra.MsBfsMaxSources + 4) // > 60 sources
    val auto = api.GraphAlgebra.multiBfsHops(both, lm, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pairs = api.GraphAlgebra.multiBfsHopsPairs(both, lm, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto === pairs)
  }

  test("GraphAlgebra.khopK: parameterized traversal equals the fixed-k registry ops") {
    import spark.implicits._
    val adj = ops.GraphOps.edges(spark, sf)
    def viaK(segment: String, k: Int): Seq[(Long, Long)] = {
      val cohort = Tables.customer(spark, sf)
        .filter($"c_mktsegment" === segment).select($"c_custkey")
      GraphAlgebra.khopK(adj, cohort, k)
        .orderBy($"part").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    def viaRegistry(key: String): Seq[(Long, Long)] =
      SparkEntry.queries(key)(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaK("BUILDING", 2) === viaRegistry("graph_khop_2"))
    assert(viaK("MACHINERY", 3) === viaRegistry("graph_khop_3"))
    // hop 0 is the cohort itself, not a traversal — reject, don't NPE
    val cohort = Tables.customer(spark, sf).select($"c_custkey")
    intercept[IllegalArgumentException](GraphAlgebra.khopK(adj, cohort, 0))
  }

  test("GraphAlgebra.pageRankBatch: per-source slice is bit-identical to single-source PPR") {
    import spark.implicits._
    val cp = ops.GraphOps.copurchase(spark, sf).select($"a", $"b")
    val both = cp.unionAll(cp.select($"b".as("a"), $"a".as("b")))
    val vertices = Tables.part(spark, sf).select($"p_partkey".as("part"))
    // support-sparse batch state: absence = rank 0, so compare nonzero sets
    val batch = GraphAlgebra.pageRankBatch(vertices, both, Seq(1L, 2L), iters = 10)
      .filter($"s" === 1L && $"r" > 0)
      .collect().map(r => (r.getLong(r.fieldIndex("part")), r.getLong(r.fieldIndex("r")))).toSet
    val single = GraphAlgebra.pageRankExact(vertices, both, 10, personalized = Some(1L))
      .filter($"r" > 0)
      .collect().map(r => (r.getLong(r.fieldIndex("part")), r.getLong(r.fieldIndex("r")))).toSet
    assert(batch === single)
  }

  test("GraphAlgebra.labelPropagation/pageRankBatch: gated-off broadcast is bit-identical") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (1L, 6L)).toDF("a", "b")
    val both = pairs.unionAll(pairs.select($"b".as("a"), $"a".as("b")))
    val vertices = (1L to 7L).toDF("part")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq
    assert(
      rows(GraphAlgebra.labelPropagation(vertices, pairs, 4, broadcastMaxRows = 0)) ===
      rows(GraphAlgebra.labelPropagation(vertices, pairs, 4)))
    assert(
      rows(GraphAlgebra.pageRankBatch(vertices, both, Seq(1L, 4L), 10, broadcastMaxRows = 0)) ===
      rows(GraphAlgebra.pageRankBatch(vertices, both, Seq(1L, 4L), 10)))
  }

  test("GraphAlgebra.labelPropagationConverged: fixpoint equals any long-enough fixed-round run") {
    import spark.implicits._
    // two disjoint triangles + an isolated vertex: synchronous LPA
    // converges here in 3 sweeps (triangle labels collapse to the min id)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a", "b")
    val vertices = (Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L)).toDF("part")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"id").collect().map(_.toSeq).toSeq
    val converged = rows(GraphAlgebra.labelPropagationConverged(vertices, pairs))
    // converged ≡ fixed-round for EVERY round count at/past convergence —
    // the stopping rule found the true fixpoint, not an arbitrary cut
    assert(converged === rows(GraphAlgebra.labelPropagation(vertices, pairs, 4)))
    assert(converged === rows(GraphAlgebra.labelPropagation(vertices, pairs, 10)))
    // communities collapse to the triangle minima; the isolate keeps itself
    val labels = converged.map(r => r.head.asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
    assert(labels(1L) === labels(2L) && labels(2L) === labels(3L))
    assert(labels(10L) === labels(11L) && labels(11L) === labels(12L))
    assert(labels(99L) === 99L)
    intercept[IllegalArgumentException](
      GraphAlgebra.labelPropagationConverged(vertices, pairs, maxRounds = 0))
  }

  test("GraphAlgebra.connectedComponentsDf equals GraphX on the co-purchase graph") {
    import spark.implicits._
    val batch = SparkEntry.queries("graph_cc")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val df = SparkEntry.queries("graph_cc_df")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(df === batch)
  }

  test("TextPipeline.packChunks: offsets are gapless per group and chunks consistent") {
    import spark.implicits._
    val packed = TextPipeline.packChunks(
      Tables.documents(spark, sf), $"source", $"doc_id", $"text", contextTokens = 128)
    packed.orderBy($"grp", $"id").collect()
      .groupBy(_.getString(0)).foreach { case (_, rows) =>
        var expectOff = 0L
        rows.foreach { r =>
          assert(r.getLong(r.fieldIndex("start_off")) === expectOff)
          assert(r.getLong(r.fieldIndex("chunk")) === expectOff / 128)
          expectOff += r.getLong(r.fieldIndex("n_tokens"))
        }
      }
  }
  test("EventAnalytics: caller-frame sessionize/retention/pareto equal the registry ops") {
    import spark.implicits._
    import graft.api.EventAnalytics
    // sessionize over the events fixture ≡ win_sessionize
    val ev = Tables.events(spark, sf)
    val viaApi = EventAnalytics.sessionize(ev,
        $"user_id", unix_millis($"ts"), $"event_id")
      .orderBy($"user_id", $"session_seq")
      .collect().map(_.toSeq).toSeq
    val reg = SparkEntry.queries("win_sessionize")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaApi === reg)
    // a custom gap changes the session count (tighter gap ⇒ more sessions)
    val tight = EventAnalytics.sessionize(ev,
      $"user_id", unix_millis($"ts"), $"event_id", gapMs = 300000L).count()
    assert(tight >= viaApi.length.toLong)
    // retention ≡ agg_retention at day grain
    val ret = EventAnalytics.retention(ev, $"user_id",
        (unix_millis($"ts") / lit(86400000L)).cast("long"))
      .orderBy($"cohort_day", $"day_offset").collect().map(_.toSeq).toSeq
    assert(ret === SparkEntry.queries("agg_retention")(spark, sf)
      .collect().map(_.toSeq).toSeq)
    // pareto ≡ win_pareto at the 80% default
    val par = EventAnalytics.paretoShare(Tables.lineitem(spark, sf),
        $"l_partkey", $"l_extendedprice" * (lit(1) - $"l_discount"))
      .orderBy($"rn").collect().map(_.toSeq).toSeq
    assert(par === SparkEntry.queries("win_pareto")(spark, sf)
      .collect().map(_.toSeq).toSeq)
  }

  test("reliable checkpoint path (-Dgraft.checkpoint.dir) is bit-identical to localCheckpoint") {
    import spark.implicits._
    // graph_pagerank exercises pageRankExact's full iterative loop — every
    // lineage truncation in it routes through Ckpt.cp()
    val viaLocal = SparkEntry.queries("graph_pagerank")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    System.setProperty("graft.checkpoint.dir", dir)
    try {
      val viaReliable = SparkEntry.queries("graph_pagerank")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(viaReliable === viaLocal)
      // the reliable path actually wrote checkpoint data into the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no reliable checkpoint files under $dir")
    } finally {
      System.clearProperty("graft.checkpoint.dir")
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("GraphAlgebra.ktruss on a caller pair list: pendant triangle peels, clique survives") {
    import spark.implicits._
    // 4-clique {1,2,3,4} (each edge in 2 triangles) + pendant triangle
    // {4,5,6} (each edge in 1): the 4-truss (support >= 2) is the clique
    val clique = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val edges = (clique ++ Seq((4L, 5L), (4L, 6L), (5L, 6L))).toDF("a", "b")
    val rows = graft.api.GraphAlgebra.ktruss(edges, k = 4, rounds = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(rows.keySet === clique.toSet)
    // the final report re-measures support over the survivor set
    assert(rows.values.forall(_ === 2L))
  }

  test("GraphAlgebra.kcore on a caller pair list: known 2-core of a tadpole graph") {
    import spark.implicits._
    // triangle 1-2-3 with a pendant path 3-4-5: the 2-core is the triangle
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val core = api.GraphAlgebra.kcore(pairs, k = 2, rounds = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core === Set((1L, 2L), (2L, 2L), (3L, 2L)))
    intercept[IllegalArgumentException](api.GraphAlgebra.kcore(pairs, 0, 5))
  }

  test("DistScan.withGlobalRank equals the single-partition window rank") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // values with duplicates so the tie-break carries the total order;
    // enough rows to span several range partitions
    val df = (1 to 97).map(i => (i % 13, s"id$i")).toDF("v", "id")
    val want = df.withColumn("r",
      row_number().over(Window.orderBy($"v", $"id")).cast("long"))
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    val got = api.DistScan.withGlobalRank(df, "r", $"v", $"id")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(got === want)
    // descending order too (the skyline/RFM-recency spelling)
    val wantD = df.withColumn("r",
      row_number().over(Window.orderBy($"v".desc, $"id")).cast("long"))
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    val gotD = api.DistScan.withGlobalRank(df, "r", $"v".desc, $"id")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(gotD === wantD)
  }

  test("DistScan.withPrefixAgg (sum/max/min) equals the exclusive-frame window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 61).map(i => ((i * 37) % 61, (i % 7).toLong)).toDF("k", "x")
    for (kind <- Seq("sum", "max", "min")) {
      val aggF: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        kind match { case "sum" => sum; case "max" => max; case _ => min }
      val w = Window.orderBy($"k")
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = df.withColumn("p", aggF($"x").over(w))
        .collect().map(r => r.getInt(0) -> Option(r.get(2))).toMap
      val got = api.DistScan.withPrefixAgg(df, "p", $"x", kind, $"k")
        .collect().map(r => r.getInt(0) -> Option(r.get(2))).toMap
      assert(got === want, s"kind=$kind")
    }
  }

  test("DistScan.ntileOfRank matches SQL ntile for every rank at several n, k") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 2, 3, 4, 5, 7, 12, 23); k <- Seq(2, 4, 5)) {
      val df = (1 to n).map(_.toLong).toDF("v")
      val want = df.withColumn("b",
        ntile(k).over(Window.orderBy($"v")).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = df.select($"v",
        api.DistScan.ntileOfRank($"v", lit(n.toLong), k).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"n=$n k=$k")
    }
  }
}

/** A swap-in codec for the seam spec: fixed 7×7 dims, constant features —
  * obviously distinguishable from [[graft.api.StubCodec]]'s arithmetic.
  * Top-level with a no-arg constructor, as the reflection contract requires.
  */
class FixedDimsTestCodec extends graft.api.Codec {
  override def imageDims(payload: Array[Byte]): (Int, Int) = (7, 7)
  override def frameIter(payload: Array[Byte], frameBytes: Int): Iterator[Array[Byte]] =
    Iterator.empty
  override def windowFeature(payload: Array[Byte], off: Int, len: Int): Long = 42L
  override def frameFeature(frame: Array[Byte]): (String, Long) = ("test", 42L)
}
