package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.GraphBridge
import Ckpt._

/** The engine's public graph API, parameterized over caller DataFrames —
  * the reference's query surface (adjacency, hop-limited traversal,
  * co-occurrence similarity, ranking, trending) as composable library
  * functions. The driver-facing registry ops in `ops.GraphOps` are thin
  * instantiations of these over the TPC-H-derived purchase graph.
  *
  * Conventions: a *bipartite incidence* is any DataFrame with a context
  * column and an item column (customer→part, order→part, doc→shingle); a
  * *pair graph* is (a, b, w) with a < b canonical undirected edges.
  */
object GraphAlgebra {

  /** Weighted adjacency from an incidence: (src, dst, w = multiplicity). */
  def adjacency(incidence: DataFrame, src: String, dst: String): DataFrame =
    incidence.groupBy(col(src).as("src"), col(dst).as("dst"))
      .agg(count(lit(1)).as("w"))

  /** Co-occurrence projection: canonical (a < b) item pairs sharing a
    * context, w = number of shared contexts. The self-join is keyed on the
    * context (bounded per-context fan-out ⇒ scalable), never on the item.
    */
  def project(incidence: DataFrame, ctx: String, item: String): DataFrame = {
    val lp = incidence.select(col(ctx).as("ok"), col(item).as("p")).distinct()
    lp.as("x").join(lp.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("w"))
  }

  /** Out/in degree and strength per vertex of a (src, dst, w) adjacency. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("degree"), sum(col("w")).as("strength"))
      .select(lit("out").as("side"), col("vertex"), col("degree"), col("strength"))
    val in = edges.groupBy(col("dst").as("vertex"))
      .agg(count(lit(1)).as("degree"), sum(col("w")).as("strength"))
      .select(lit("in").as("side"), col("vertex"), col("degree"), col("strength"))
    out.unionAll(in)
  }

  /** Point adjacency query: the neighborhood of one vertex. */
  def neighbors(edges: DataFrame, vertex: Long): DataFrame =
    edges.filter(col("src") === vertex).select(col("dst"), col("w"))

  /** Hop-budget traversal with min-hop labels and k a RUNTIME parameter —
    * the reference's k-hop message semantics (the registry's khop_2/khop_3
    * are the fixed-k SQL-expressible instances; this runs on
    * [[expandFrontier]] like [[bfsHops]]). Bipartite: hop 1 is the cohort's
    * own items, then each hop's NEWLY-reached items' contexts seed the next
    * hop — true frontier expansion, so per-hop work is proportional to the
    * frontier, while the min-hop labeling is provably identical to the full
    * re-expansion the fixed-k ops do (a context adjacent to a hop-h item is
    * explored at round h+1 either way). ApiSpec pins khopK(2)/khopK(3)
    * row-identical to the registry ops.
    */
  def khopK(edges: DataFrame, cohort: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"khopK needs k >= 1 (got $k): hop 0 is the cohort itself")
    val adj = edges.select(col("src"), col("dst")).cp()
    val items = adj.join(cohort.toDF("src").distinct(), "src")
      .select(col("dst")).distinct().cp()
    expandFrontier(items, items.count(), 1L, k)(
        (fresh, h) => fresh.select(col("dst"), lit(h).as("hop"))) { hop =>
      val custs = adj.join(hop.frontier, "dst").select(col("src")).distinct()
      adj.join(custs, "src").select(col("dst")).distinct()
        .join(hop.visited.select(col("dst")), Seq("dst"), "left_anti")
    }.select(col("dst").as("part"), col("hop"))
  }

  /** Triangle count of a canonical pair graph, node-iterator formulation
    * (sum of |N⁺(a) ∩ N⁺(b)| over edges, sorted adjacency lists +
    * codegen'd array_intersect — no Σdeg² wedge shuffle).
    */
  def triangles(pairs: DataFrame): DataFrame = {
    val cp = pairs.select(col("a"), col("b"))
    val adj = cp.groupBy(col("a").as("v"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    val tri = cp
      .join(adj.select(col("v"), col("nbrs").as("na")), col("a") === col("v"))
      .join(adj.select(col("v").as("v2"), col("nbrs").as("nb")), col("b") === col("v2"))
      .select(size(array_intersect(col("na"), col("nb"))).cast("long").as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    tri.crossJoin(cp.agg(count(lit(1)).as("n_edges")))
  }

  /** Top-k item pairs by shared contexts (related-items query). */
  def commonNeighbors(edges: DataFrame, k: Int): DataFrame =
    edges.select(col("src"), col("dst")).as("e1")
      .join(edges.select(col("src"), col("dst")).as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .groupBy(col("e1.dst").as("p1"), col("e2.dst").as("p2"))
      .agg(count(lit(1)).as("common"))
      .orderBy(col("common").desc, col("p1"), col("p2"))
      .limit(k)

  /** Connected components of a pair graph (GraphX Pregel; labels = min
    * vertex id in component). `vertices` is a single-column id frame and
    * may include isolated vertices.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame =
    GraphBridge.connectedComponents(vertices.sparkSession, vertices,
      pairs.select(col("a"), col("b")))

  /** BFS hop distances from `src` over an undirected pair graph, ≤ maxHops. */
  def shortestHops(vertices: DataFrame, pairs: DataFrame, src: Long, maxHops: Int): DataFrame = {
    val cp = pairs.select(col("a"), col("b"))
    val both = cp.unionAll(cp.select(col("b").as("a"), col("a").as("b")))
    GraphBridge.shortestHops(vertices.sparkSession, vertices, both, src, maxHops)
  }

  /** Static PageRank over an undirected pair graph, fixed iterations. */
  def pageRank(vertices: DataFrame, pairs: DataFrame, iters: Int): DataFrame = {
    val cp = pairs.select(col("a"), col("b"))
    val both = cp.unionAll(cp.select(col("b").as("a"), col("a").as("b")))
    GraphBridge.pageRank(vertices.sparkSession, vertices, both, iters)
  }

  /** Rank mass carried as a scaled BIGINT (1e12 = total mass 1.0). */
  val PrScale: Long = 1000000000000L

  /** Row ceiling under which iterative-state frames (ranks, labels,
    * frontiers — two bigint columns, ~16 B/row + hash-relation overhead)
    * still broadcast comfortably: 2e7 rows ≈ 320 MB payload. Above it the
    * hint would OOM executors long before 100× scale, so the gated joins
    * below fall back to a plain (AQE-planned, usually sort-merge) join.
    * The gate costs nothing extra: |V| is invariant across iterations and
    * is already materialized for the reset term / convergence check.
    */
  val BroadcastMaxRows: Long = 20000000L

  private def hinted(df: DataFrame, rows: Long, maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(df) else df

  /** [[hinted]] with the shared default ceiling, for iterative callers
    * outside this object (e.g. the k-core peel) whose loop already pays
    * for the row count.
    */
  def hintedFrame(df: DataFrame, rows: Long): DataFrame =
    hinted(df, rows, BroadcastMaxRows)

  /** Broadcast gate for ADJACENCY-ARRAY frames (one row per vertex, a
    * sorted neighbor array per row — the triangle/support family's shape).
    * The payload is Σdeg = the DIRECTED edge count, not the row count, so
    * the thin-frame `BroadcastMaxRows` gate is the wrong measure: 1e7
    * directed edges ≈ 160 MB of longs — comfortably a broadcast — while
    * the same frame at a 100 TB corpus is terabytes and must stay on the
    * shuffle path. Joining the edge list against a BROADCAST adjacency
    * keeps the per-edge array attach map-side; the ungated alternative is
    * a sort-merge join that shuffles and SORTS kilobyte-array rows per
    * edge (measured 2-3× the whole query at sf0.1). Callers pass the
    * directed-edge count their pair frame already materialized.
    */
  val AdjacencyBroadcastMaxEdges: Long = 10000000L

  def hintedAdj(adj: DataFrame, directedEdges: Long): DataFrame =
    if (directedEdges <= AdjacencyBroadcastMaxEdges) broadcast(adj) else adj

  /** What one [[expandFrontier]] step sees: the rows first reached last
    * hop and the visited frame, each with its row count.
    */
  private[graft] final case class Hop(frontier: DataFrame, frontierRows: Long,
                                      visited: DataFrame, visitedRows: Long) {
    /** The frontier, broadcast-gated on its (already counted) row count. */
    def gatedFrontier(maxRows: Long): DataFrame = hinted(frontier, frontierRows, maxRows)
  }

  /** The first-visit frontier loop behind [[bfsHops]], [[multiBfsHopsPairs]],
    * [[multiBfsSigmaOn]], [[reachClosure]], [[boundedReach]] and [[khopK]].
    * `seed` (checkpointed by the caller, `seedRows` rows) is the frontier
    * at hop `seedHop`, and `label(seed, seedHop)` starts the visited frame.
    * Each later hop h ≤ `maxHop` runs `step`, which returns the rows first
    * reached at hop h: the caller's join, dedup and first-visit anti-join
    * against the visited frame, in the caller's order (the order is a
    * per-caller measurement, see the callers' notes). The loop checkpoints
    * those rows and counts them — the count is both the stop test and the
    * next hop's broadcast-gate size — appends `label(rows, h)` to the
    * visited frame, and stops after `maxHop` or at the first hop that
    * reaches nothing new. Hop `maxHop` is appended uncounted, since no
    * later hop reads its count. Returns the visited frame.
    */
  private[graft] def expandFrontier(seed: DataFrame, seedRows: Long, seedHop: Long,
                                    maxHop: Long)(label: (DataFrame, Long) => DataFrame)(
                                    step: Hop => DataFrame): DataFrame = {
    var hop = Hop(seed, seedRows, label(seed, seedHop), seedRows)
    var h = seedHop + 1
    while (h <= maxHop && hop.frontierRows > 0) {
      val next = step(hop).cp()
      val visited = hop.visited.unionAll(label(next, h))
      // uncounted cap hop: appending an empty frame would add no rows
      if (h == maxHop) return visited.cp()
      val n = next.count()
      hop = Hop(next, n, if (n == 0) hop.visited else visited.cp(), hop.visitedRows + n)
      h += 1
    }
    hop.visited
  }

  /** Public k-core over a caller-supplied canonical (a < b) pair list:
    * fixed-round peel (see `graph_kcore`'s docstring for why fixed rounds
    * — determinism), returning members with their TRUE induced degree
    * within the final survivor set (a dedicated post-loop degree pass —
    * so the degree column is exact even when `rounds` stops short of the
    * fixpoint). `rounds ≥ |V|` always reaches the true fixpoint (each
    * non-converged round removes ≥ 1 vertex); the fixture op uses 6 with
    * convergence spec-pinned.
    */
  def kcore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"kcore needs k >= 1 (got $k)")
    require(rounds >= 1, s"kcore needs rounds >= 1 (got $rounds)")
    graft.ops.GraphOps.kcorePeel(pairs, k, rounds)
  }

  /** k-TRUSS peel over a caller (a, b) pair list (canonical a < b, one row
    * per undirected edge): `rounds` rounds of "keep edges with triangle
    * support ≥ k−2 over the current survivor set", then a final support
    * report (support-0 survivors kept). Support is adjacency arrays +
    * `array_intersect` — work ∝ Σdeg per edge, never the Σdeg² wedge
    * shuffle. Output (a, b, support). Registry op `graph_ktruss` is this
    * at (k = 12, rounds = 3) on the co-purchase graph, oracle-checked
    * against unrolled wedge-join CTE rounds.
    */
  def ktruss(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"ktruss needs k >= 3 (got $k)")
    require(rounds >= 1, s"ktruss needs rounds >= 1 (got $rounds)")
    // the adjacency-array attach is broadcast-gated on the round's
    // directed-edge count ([[hintedAdj]] — ungated both joins went
    // sort-merge over kilobyte-array rows), and the adjacency is
    // checkpointed because the two broadcast builds both read it; the
    // survivor count per round is already paid by the loop's cp()
    def supports(e: DataFrame, nDir: Long): DataFrame = {
      val both = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val adj = both.groupBy(col("a").as("v"))
        .agg(sort_array(collect_list(col("b"))).as("ns")).cp()
      e.join(hintedAdj(adj.select(col("v").as("a"), col("ns").as("na")), nDir), "a")
        .join(hintedAdj(adj.select(col("v").as("b"), col("ns").as("nb")), nDir), "b")
        .select(col("a"), col("b"),
          size(array_intersect(col("na"), col("nb"))).cast("long").as("sup"))
    }
    var e = pairs.select(col("a"), col("b")).cp()
    var nE = e.count()
    for (_ <- 1 to rounds) {
      e = supports(e, 2L * nE).filter(col("sup") >= k - 2)
        .select(col("a"), col("b")).cp()
      nE = e.count()
    }
    supports(e, 2L * nE).select(col("a"), col("b"), col("sup").as("support"))
  }

  /** EXACT PageRank / personalized PageRank by integer power iteration —
    * every step is truncating-integer arithmetic on scaled BIGINT mass, so
    * the fixed-point chain is bit-identical across engines, partitionings
    * and runs (float iteration drifts with summation order). This is what
    * makes whole-graph ranking oracle-checkable (`graph_pagerank`,
    * `graph_ppr`).
    *
    * `vertices`: one column `part` (bigint ids). `edgesBoth`: (a, b) with
    * BOTH directions present for undirected semantics.
    * `personalized = Some(src)` teleports all reset mass to the source.
    *
    * Scale shape: the invariant degree-annotated edge list is materialized
    * once; each iteration is ONE broadcast join over |E| plus one
    * partial+final aggregation, with the |V|-row rank frame
    * lineage-truncated per superstep (otherwise AQE re-optimizes the whole
    * accumulated tree at every stage boundary — planning, not data,
    * dominates). Iteration covers ACTIVE (deg ≥ 1) vertices only — the
    * symmetric graph guarantees each receives a contribution row — and
    * isolated vertices rejoin at the end with the constant reset rank.
    * |V| ≪ |E| justifies the broadcast hint at moderate scale, and the
    * hint is GATED on |V| ≤ `broadcastMaxRows` (|V| is already paid for by
    * the reset term): a billion-vertex graph automatically takes the
    * plain-join path instead of OOMing on an unconditional broadcast.
    */
  def pageRankExact(vertices: DataFrame, edgesBoth: DataFrame, iters: Int,
                    personalized: Option[Long],
                    broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val both = edgesBoth.select(col("a"), col("b")).cp()
    // three consumers (ed build, rank init, isolated anti-join) — cp so
    // the |E| degree rollup runs once (r15, guide §2.4)
    val deg = both.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
      .cp()
    val parts = vertices.select(col("part"))
    val nDf = parts.agg(count(lit(1)).as("n")).cp()
    // |V| gates every broadcast below; rank/degree frames never exceed it
    val nV = nDf.first().getLong(0)
    // pre-partitioned on the GROUP key `edst`: with the rank side broadcast
    // (the common, gated case) each iteration's contribution aggregation
    // inherits this clustering and runs exchange-free — `iters` |E|-stream
    // shuffles become this single upfront one (r6 VERDICT item #6). The
    // un-hinted fallback (|V| over the ceiling) shuffles as before.
    val ed = Ckpt.cpByKey(
      both.join(hinted(deg, nV, broadcastMaxRows), col("a") === col("v"))
        .select(col("a").as("esrc"), col("b").as("edst"), col("deg")),
      col("edst"))
    val resetOf: Column => Column = personalized match {
      case Some(src) => v => when(v === src, lit(PrScale * 15 / 100)).otherwise(lit(0L))
      case None => _ => expr(s"${PrScale * 15} div (n * 100)")
    }
    var ranks: DataFrame = personalized match {
      case Some(src) => deg.select(col("v").as("part"),
        when(col("v") === src, lit(PrScale)).otherwise(lit(0L)).as("r"))
      case None => deg.crossJoin(broadcast(nDf))
        .select(col("v").as("part"), expr(s"$PrScale div n").as("r"))
    }
    for (_ <- 1 to iters) {
      val csums = ed.join(hinted(ranks, nV, broadcastMaxRows), col("esrc") === col("part"))
        .groupBy(col("edst")).agg(sum(expr("r div deg")).as("csum"))
      val withN = if (personalized.isEmpty) csums.crossJoin(broadcast(nDf)) else csums
      ranks = withN.select(col("edst").as("part"),
        (resetOf(col("edst")) + expr("csum * 85 div 100")).as("r"))
        .cp()
    }
    val isolated = parts.join(deg, col("part") === col("v"), "left_anti")
    val isoRanks = (if (personalized.isEmpty) isolated.crossJoin(broadcast(nDf)) else isolated)
      .select(col("part"), resetOf(col("part")).as("r"))
    ranks.unionAll(isoRanks)
  }

  /** BATCH personalized PageRank — ALL sources at once: the reference's
    * per-user recommendation serving (one PPR per user) expressed as ONE
    * dataflow keyed by an extra source column, instead of |S| driver-looped
    * jobs. Arithmetic is the same exact scaled-BIGINT iteration as
    * [[pageRankExact]], so per source the nonzero ranks are bit-identical
    * to the single-source op (ApiSpec pins this) and the whole batch is
    * DuckDB-oracle hash-checkable.
    *
    * The rank state is SUPPORT-SPARSE: a (s, part) row exists only once
    * mass has reached `part` from `s` (rank-0 vertices are represented by
    * absence), so state grows with the personalized mass spread, not
    * |S|·|V|. The teleport term folds into the contribution projection
    * (the agg already has one row per (s, part)); sources whose own row
    * got no inbound mass re-enter through a LAZY anti-join of the |S|-row
    * source frame against the state's part = s rows — one pure dataflow,
    * no driver collect (r16, ADVICE — the collect spelling broke the
    * no-collect contract at exactly the large-|S| scale this batch op
    * exists for). Each iteration shuffles on the (s, part) key; the
    * rank-side broadcast is gated on the STATIC |S|·|V| ceiling (both
    * factors already counted once), so the support-sparse loop pays no
    * per-iteration count job — the ceiling only disables the hint for
    * state sizes where the measured count could not have allowed it
    * either at full spread.
    */
  def pageRankBatch(vertices: DataFrame, edgesBoth: DataFrame,
                    sources: Seq[Long], iters: Int,
                    broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val sess = edgesBoth.sparkSession
    import sess.implicits._
    val both = edgesBoth.select(col("a"), col("b")).cp()
    val deg = both.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    val nV = vertices.select(col("part")).count()
    // same pre-partitioning as [[pageRankExact]]: HashPartitioning(edst)
    // satisfies the (s, edst) clustered distribution of the contribution
    // aggregation, so the broadcast-rank iterations add no |E| exchange
    val ed = Ckpt.cpByKey(
      both.join(hinted(deg, nV, broadcastMaxRows), col("a") === col("v"))
        .select(col("a").as("esrc"), col("b").as("edst"), col("deg")),
      col("edst"))
    // a LocalRelation — free to re-evaluate, so no checkpoint needed for
    // its two consumers (initial ranks, per-iteration anti-join probe)
    val srcDf = sources.toDF("s")
    // static gate: state rows can never exceed |S|·|V| (guard the product
    // against overflow); saturating here trades the old per-iteration
    // count job for a slightly conservative hint
    val rankCap = if (sources.isEmpty || nV > Long.MaxValue / math.max(1, sources.size))
      Long.MaxValue else sources.size * nV
    var ranks = srcDf
      .select(col("s"), col("s").as("part"), lit(PrScale).as("r"))
    for (_ <- 1 to iters) {
      // the contribution agg has ONE row per (s, part) already, so the
      // reset term folds in as a projection — rank = damped csum, plus
      // the teleport constant on the part = s row (exact BIGINT addition,
      // bit-identical to the old unionAll(reset) + re-group — which paid
      // a second state-size exchange + hash agg EVERY iteration for a
      // ≤|S|-row insert; r15 round-2 backlog item, guide §2.4). cp BEFORE
      // the self-hit anti-join below so the |E| agg runs once (the union
      // branches below then read the cp'd frame, not the lineage).
      val contrib = ed.join(hinted(ranks, rankCap, broadcastMaxRows),
          col("esrc") === col("part"))
        .groupBy(col("s"), col("edst"))
        .agg(sum(expr("r div deg")).as("csum"))
        .select(col("s"), col("edst").as("part"),
          (expr("csum * 85 div 100") +
            when(col("edst") === col("s"), lit(PrScale * 15 / 100))
              .otherwise(lit(0L))).as("r"))
        .cp()
      // sources whose own row got NO inbound mass this iteration still
      // need their teleport row (absence = rank 0 in the sparse state):
      // a lazy broadcast anti-join of the |S|-row source frame against
      // the cp'd state's ≤|S| part = s rows — no action, no collect
      val missing = srcDf.join(
          broadcast(contrib.filter(col("part") === col("s")).select(col("s"))),
          Seq("s"), "left_anti")
        .select(col("s"), col("s").as("part"),
          lit(PrScale * 15 / 100).as("r"))
      ranks = contrib.unionAll(missing)
    }
    ranks
  }

  /** Synchronous label-propagation community detection, deterministic
    * variant: each round EVERY vertex simultaneously adopts the most
    * frequent label among its neighbors, ties broken by the SMALLEST
    * label; isolated vertices keep their own. The fixed round count makes
    * the whole computation a finite deterministic dataflow — oracle-
    * checkable as an unrolled CTE chain (the graph_wsssp trick) — where
    * the classic asynchronous/randomized LPA is not.
    *
    * Per round: one join of the label frame into the |E| adjacency, a
    * (vertex, label) count aggregation, and a max(struct) tie-break agg —
    * all clustered on the vertex key (one hoisted shuffle, no sort-window,
    * no all-pairs stage anywhere). The label broadcast is gated on
    * |V| ≤ broadcastMaxRows like [[connectedComponentsDf]]'s.
    */
  def labelPropagation(vertices: DataFrame, pairs: DataFrame, rounds: Int,
                       broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val (start, vote) = lpaRounds(vertices, pairs, broadcastMaxRows)
    (1 to rounds).foldLeft(start)((labels, _) =>
        vote(labels).select(col("id"), col("lbl")).cp())
      .select(col("id"), col("lbl").as("community"))
  }

  /** The setup and round shared by [[labelPropagation]] and
    * [[labelPropagationConverged]]: the starting label frame (id, lbl = id)
    * and one synchronous vote, which maps a label frame to
    * (id, prev, lbl) and leaves the checkpoint to the caller.
    */
  private def lpaRounds(vertices: DataFrame, pairs: DataFrame,
                        broadcastMaxRows: Long): (DataFrame, DataFrame => DataFrame) = {
    val cp = pairs.select(col("a"), col("b"))
    // clustered on the vote GROUP key `b` — HashPartitioning(b) satisfies
    // the (b, lbl) clustered distribution AND the row_number window's
    // partitionBy(v), so each round is exchange-free past the label join
    val both = Ckpt.cpByKey(
      cp.unionAll(cp.select(col("b").as("a"), col("a").as("b"))), col("b"))
    val labels = vertices.select(col("part").as("id"), col("part").as("lbl"))
      .cp()
    val nV = labels.count() // label frame stays exactly |V| rows every round
    labels -> { cur =>
      // tie-break (most frequent label, ties to the SMALLEST) as a hash
      // aggregation — max(struct(c, −lbl)) ≡ the row_number(c desc, lbl
      // asc) = 1 pick, but it stays in the HashPartitioning(b) chain the
      // cpByKey hoisted (both groupBys cluster on v = b) instead of
      // paying a per-round sort-window over the |E|-sized vote frame
      val top = both.join(hinted(cur, nV, broadcastMaxRows), col("a") === col("id"))
        .groupBy(col("b").as("v"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("v"), (-col("m.neg")).as("nlbl"))
      cur.join(top, col("id") === col("v"), "left")
        .select(col("id"), col("lbl").as("prev"),
          coalesce(col("nlbl"), col("lbl")).as("lbl"))
    }
  }

  /** [[labelPropagation]] iterated to CONVERGENCE: stops the round loop
    * when a sweep changes ZERO labels (the [[connectedComponentsDf]]
    * stopping rule) instead of after a fixed round count — the variant a
    * user runs when they want the fixpoint, not a bounded dataflow. Each
    * round pays one extra count on the already-checkpointed label frame
    * to detect the fixpoint — noise next to the round's |E| join.
    *
    * Synchronous LPA is not guaranteed to reach a fixpoint (labels can
    * 2-cycle on bipartite-ish structures), so `maxRounds` caps the loop;
    * on graphs that do converge the result is identical to
    * [[labelPropagation]] run for any round count ≥ the convergence round
    * (ApiSpec pins this). The registry op stays the fixed-round form —
    * that one is a finite deterministic dataflow and hence
    * oracle-checkable as an unrolled CTE; this one's round count is
    * data-dependent.
    */
  def labelPropagationConverged(vertices: DataFrame, pairs: DataFrame,
                                maxRounds: Int = 50,
                                broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    require(maxRounds >= 1, s"labelPropagationConverged needs maxRounds >= 1 (got $maxRounds)")
    val (start, vote) = lpaRounds(vertices, pairs, broadcastMaxRows)
    var labels = start
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      round += 1
      val upd = vote(labels).cp()
      changed = upd.filter(col("lbl") =!= col("prev")).count()
      labels = upd.select(col("id"), col("lbl"))
    }
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** One level of deterministic synchronous Louvain node moves over a
    * WEIGHTED canonical (a, b, w) pair list — the modularity-OPTIMIZING
    * community step beyond [[labelPropagation]] (LPA votes on label
    * frequency; Louvain moves a node to the neighbor community with the
    * largest positive ΔQ). Each of the fixed `rounds` sweeps evaluates
    * EVERY node simultaneously against the PREVIOUS sweep's assignment —
    * a finite deterministic dataflow like the fixed-round LPA, so it is
    * oracle-checkable as an unrolled CTE chain (the classic sequential
    * Louvain's result depends on visit order and can't hash-match across
    * engines).
    *
    * Move rule per node i (current community a, weighted degree k_i,
    * community weighted-degree totals tot_c, i→c adjacent weight k_ic):
    * ΔQ(i→c) ∝ 2m·(k_ic − k_ia) − k_i·(tot_c − tot_a + k_i), exact BIGINTs
    * with the products carried in DECIMAL: one operand is cast to
    * DECIMAL(38,0) so the product precision is Spark's 38-digit CEILING —
    * that is the headroom (vs BIGINT's 19 digits), not margin beyond it.
    * Past 38 digits (2m·k at extreme fact scale) the multiply fails
    * LOUDLY under ANSI mode (Spark 4 default) rather than wrapping
    * silently; DuckDB mirrors via HUGEINT (39 digits). Move to the
    * gain-maximal neighbor community when the gain is strictly positive,
    * ties to the SMALLEST community id; otherwise stay. ΔQ(a→a) is 0 by
    * construction, so "stay" is the correct no-positive-gain fixpoint.
    *
    * Scale shape: per round one join of the |V| label frame into the
    * checkpointed both-direction |E| adjacency (broadcast-gated on |V|),
    * one (i, c) hash agg, one |V|-sized tot rollup joined back broadcast-
    * gated, and a max(struct) argmax — all clustered on the vertex key,
    * no sort-window, no pair materialization.
    *
    * `selfLoops` (id, s) is the multi-level hook: a COARSENED graph's
    * supernode carries its community-internal weight as a self-loop,
    * which contributes 2s to the node's weighted degree k_i and 2s to 2m
    * but is NOT an adjacency (it moves with the node, so it cancels in
    * every ΔQ difference — exactly classical Louvain's aggregated-graph
    * algebra). Pass the self-loop frame separately; `pairs` must then
    * hold only a ≠ b edges.
    */
  def louvainMoves(vertices: DataFrame, pairs: DataFrame, rounds: Int,
                   broadcastMaxRows: Long = BroadcastMaxRows,
                   selfLoops: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1, s"louvainMoves needs rounds >= 1 (got $rounds)")
    val cp = pairs.select(col("a"), col("b"), col("w"))
    val both = Ckpt.cpByKey(
      cp.unionAll(cp.select(col("b").as("a"), col("a").as("b"), col("w"))),
      col("a"))
    // weighted degree k_i and 2m are round-invariant; self-loops add 2s
    // to their node's degree and 2·Σs to 2m (coarsening invariant: the
    // coarse graph's 2m equals the original's)
    val degPairs = both.groupBy(col("a").as("id")).agg(sum(col("w")).as("k"))
    val deg = (selfLoops match {
      case None => degPairs
      case Some(sl) =>
        degPairs.join(sl.select(col("id"), col("s")), Seq("id"), "full")
          .select(col("id"), (coalesce(col("k"), lit(0L)) +
            lit(2L) * coalesce(col("s"), lit(0L))).as("k"))
    }).cp()
    // 2m reads the CHECKPOINTED adjacency (Σ_both w = 2·Σ_pairs w — each
    // edge appears twice in `both`), and the 1-row frame is itself
    // checkpointed: the old spelling aggregated the caller's raw `pairs`
    // lineage and was broadcast-rebuilt EVERY round — for graph_louvain
    // that re-ran the whole co-purchase self-join once per sweep
    // (measured ~2 s × rounds at sf0.1; guide §2.4 "remove shuffles
    // outright" / §5 re-computation). Value is bit-identical.
    val m2 = (selfLoops match {
      case None => both.agg(coalesce(sum(col("w")), lit(0L)).as("m2"))
      case Some(sl) =>
        both.agg(coalesce(sum(col("w")), lit(0L)).as("bw"))
          .crossJoin(sl.agg(coalesce(sum(col("s")), lit(0L)).as("sw")))
          .select((col("bw") + lit(2L) * col("sw")).as("m2"))
    }).cp()
    var labels = vertices.select(col("part").as("id"), col("part").as("c"))
      .join(deg, Seq("id"), "left")
      .select(col("id"), col("c"), coalesce(col("k"), lit(0L)).as("k"))
      .cp()
    val nV = labels.count()
    // left product operands widen to DECIMAL(38,0) EXPLICITLY: the product
    // precision is then Spark's hard 38-digit cap (see docstring — the cap
    // IS the ceiling; overflow past it ANSI-errors loudly, never wraps)
    val dec = (x: Column) => x.cast("decimal(19,0)")
    val dec38 = (x: Column) => x.cast("decimal(38,0)")
    for (_ <- 1 to rounds) {
      val tot = labels.groupBy(col("c")).agg(sum(col("k")).as("tot"))
      // k_ic: weight from i into each adjacent community (prev sweep)
      val kic = both
        .join(hinted(labels.select(col("id").as("b"), col("c").as("nc")),
          nV, broadcastMaxRows), Seq("b"))
        .groupBy(col("a").as("id"), col("nc"))
        .agg(sum(col("w")).as("kic"))
      // FUSED candidate scoring (r15, guide §2.4 — remove shuffles
      // outright): the gain 2m·(k_ic − k_ia) − k_i·(tot_c − tot_a + k_i)
      // differs from score(nc) = 2m·k_ic − k_i·tot_c by the PER-ID
      // constant thresh = 2m·k_ia − k_i·(tot_a − k_i), so the argmax over
      // nc (ties to the smallest community id — an affine per-id shift
      // preserves order AND ties) and the strict-positivity test are both
      // computed from score alone: argmax per id inside one aggregation
      // that ALSO folds k_ia out of the nc = c row, then one |V|-sized
      // tot_a attach. This deletes the old kia self-derivation (which
      // re-planned the whole kic subtree) and the |E_c|-sized cand ⋈ kia
      // shuffle join — two exchanges per round gone; the exact-decimal
      // discipline (same dec/dec38 operands, same 38-digit ANSI ceiling)
      // is unchanged, so the sweep is bit-identical to the unfused form.
      val folded = kic
        .join(hinted(labels, nV, broadcastMaxRows), Seq("id"))
        .join(hinted(tot.select(col("c").as("nc"), col("tot").as("tot_c")),
          nV, broadcastMaxRows), Seq("nc"))
        .crossJoin(broadcast(m2))
        .groupBy(col("id"), col("c"), col("k"), col("m2"))
        .agg(
          max(when(col("nc") =!= col("c"),
            struct((dec38(col("m2")) * dec(col("kic")) -
              dec38(col("k")) * dec(col("tot_c"))).as("score"),
              (-col("nc")).as("neg")))).as("m"),
          max(when(col("nc") === col("c"), col("kic"))).as("kia"))
      val scored = folded
        .filter(col("m").isNotNull)
        .join(hinted(tot.select(col("c"), col("tot").as("tot_a")),
          nV, broadcastMaxRows), Seq("c"))
        // gain > 0  ⟺  score > 2m·k_ia − k_i·(tot_a − k_i)
        .filter(col("m.score") >
          dec38(col("m2")) * dec(coalesce(col("kia"), lit(0L))) -
            dec38(col("k")) * (dec(col("tot_a")) - dec(col("k"))))
        .select(col("id"), (-col("m.neg")).as("newc"))
      // scored is ≤ |V| rows (one per moved node) but descends from an
      // aggregate, so its stats are unknown — unhinted this join planned
      // sort-merge (two exchanges + sorts per round for a tiny frame);
      // the |V| gate is the same as every other label-loop broadcast
      labels = labels.join(hinted(scored, nV, broadcastMaxRows),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("newc"), col("c")).as("c"), col("k"))
        .cp()
    }
    labels.select(col("id"), col("c").as("community"))
  }

  /** One Louvain AGGREGATION step: coarsen a weighted pair graph by a
    * community assignment. Returns (interEdges, selfLoops, vertices) of
    * the community graph: inter-community weights summed onto canonical
    * (a < b) supernode pairs, intra-community weight PLUS the carried-in
    * self-loops of the member nodes folded into the supernode self-loop
    * (classical Louvain's aggregated-graph bookkeeping — 2m is invariant
    * under this map), vertices = the distinct communities as `part`.
    * Scale shape: two label joins into |E| keyed on the endpoints, one
    * pair rollup, one |V|-sized self-loop rollup — exactly one coarsening
    * shuffle; every output is community-graph-sized (orders of magnitude
    * below |E| after level 1).
    */
  def louvainCoarsen(pairs: DataFrame, selfLoops: Option[DataFrame],
                     labels: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val mapped = pairs.select(col("a"), col("b"), col("w"))
      .join(labels.select(col("id").as("a"), col("community").as("ca")),
        Seq("a"))
      .join(labels.select(col("id").as("b"), col("community").as("cb")),
        Seq("b"))
      .cp()
    val inter = mapped.filter(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    val intra = mapped.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("id")).agg(sum(col("w")).as("si"))
    val self = selfLoops match {
      case None => intra.select(col("id"), col("si").as("s"))
      case Some(sl) =>
        val carried = sl.select(col("id"), col("s").as("sc"))
          .join(labels, Seq("id"))
          .groupBy(col("community").as("id")).agg(sum(col("sc")).as("sc"))
        intra.join(carried, Seq("id"), "full")
          .select(col("id"), (coalesce(col("si"), lit(0L)) +
            coalesce(col("sc"), lit(0L))).as("s"))
    }
    val verts = labels.select(col("community").as("part")).distinct()
    (inter, self, verts)
  }

  /** Driver-local replica of [[louvainMoves]]'s EXACT move algebra
    * (BigInt gains 2m·(k_ic − k_ia) − k_i·(tot_c − tot_a + k_i), strictly
    * positive wins, ties to the smallest community id, synchronous
    * sweeps, self-loops feeding 2s into k and 2m) — for COARSE community
    * graphs only: after one aggregation level the graph is index-state-
    * sized (hundreds-to-thousands of supernodes at ANY corpus scale),
    * and the distributed spelling pays 15-90 s of per-round planning/AQE
    * overhead for milliseconds of actual compute (measured at sf0.1 —
    * every DAG job < 400 ms while the driver sat in Catalyst). Same
    * posture as [[VectorIndex.knnSearch]]'s driver-held frontier: tiny
    * index-state work runs local, corpus-scale work stays distributed.
    * Round14Spec pins bit-equality against the distributed spelling.
    */
  private[graft] def louvainMovesLocal(
      vertices: Seq[Long], pairs: Seq[(Long, Long, Long)],
      selfLoops: Map[Long, Long], rounds: Int): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Map[Long, Long]]
    def add(a: Long, b: Long, w: Long): Unit =
      adj.getOrElseUpdate(a, scala.collection.mutable.Map.empty)
        .updateWith(b) { v => Some(v.getOrElse(0L) + w) }
    pairs.foreach { case (a, b, w) => add(a, b, w); add(b, a, w) }
    val k = vertices.map { v =>
      v -> (adj.get(v).map(_.values.sum).getOrElse(0L) +
        2L * selfLoops.getOrElse(v, 0L))
    }.toMap
    val m2 = BigInt(2) * (pairs.map(p => BigInt(p._3)).sum +
      selfLoops.values.map(BigInt(_)).sum)
    var lbl = vertices.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      val tot = lbl.toSeq.groupBy(_._2)
        .map { case (c, vs) => c -> vs.map(x => BigInt(k(x._1))).sum }
      val moves = vertices.flatMap { i =>
        val kic = adj.getOrElse(i, scala.collection.mutable.Map.empty)
          .toSeq.groupBy(e => lbl(e._1))
          .map { case (c, es) => c -> es.map(_._2).sum }
        val a = lbl(i)
        val kia = BigInt(kic.getOrElse(a, 0L))
        val cands = kic.keys.filter(_ != a).flatMap { nc =>
          val gain = m2 * (BigInt(kic(nc)) - kia) -
            BigInt(k(i)) * (tot(nc) - tot(a) + BigInt(k(i)))
          if (gain > 0) Some((gain, nc)) else None
        }
        if (cands.isEmpty) None
        else {
          // max gain, ties to the SMALLEST community id
          val best = cands.reduce { (x, y) =>
            if (x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)) x else y }
          Some(i -> best._2)
        }
      }.toMap
      lbl = lbl.map { case (v, c) => v -> moves.getOrElse(v, c) }
    }
    lbl
  }

  /** [[louvainMoves]] with the coarse-graph fast path: when the pair
    * frame is at or under `localMax` rows (community graphs after level 1
    * are index-state-sized at ANY corpus scale — the documented
    * bounded-driver posture of [[boruvkaForest]]'s contraction and the
    * knnSearch beam), run the bit-equal driver-local replica
    * [[louvainMovesLocal]] instead of paying 15-90 s of per-round
    * planning/AQE overhead for milliseconds of compute; above the bound,
    * the distributed sweeps run unchanged. `pairs` should already be
    * checkpointed — the count and the collect both read it. Round14Spec
    * (dendrogram levels) and Round15Spec (louvain_multi level 2) pin
    * local ≡ distributed bit-equality.
    */
  def louvainMovesAuto(vertices: DataFrame, pairs: DataFrame, rounds: Int,
                       selfLoops: Option[DataFrame] = None,
                       localMax: Long = 1000000L): DataFrame = {
    if (pairs.count() <= localMax) {
      val s = pairs.sparkSession
      import s.implicits._
      val es = pairs.select(col("a"), col("b"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val sl = selfLoops.map(_.select(col("id"), col("s")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
        .getOrElse(Map.empty[Long, Long])
      val vs = vertices.select(col("part")).collect().map(_.getLong(0)).toSeq
      louvainMovesLocal(vs, es, sl, rounds).toSeq.toDF("id", "community")
    } else louvainMoves(vertices, pairs, rounds, selfLoops = selfLoops)
  }

  /** Multi-level Louvain TO CONVERGENCE with a flattened dendrogram:
    * `levels` rounds of (synchronous [[louvainMoves]] sweeps → coarsen via
    * [[louvainCoarsen]]), emitting one row per ORIGINAL vertex with its
    * community at every level — the community-path output a hierarchy
    * query serves (`id, c1, c2, …, cL`, each cℓ the vertex's level-ℓ
    * supernode). Convergence: when a level's sweeps move NOTHING (every
    * supernode keeps its own label), that level is a FIXPOINT of the move
    * rule — further sweeps and coarsenings are identity maps — so the
    * remaining level columns are filled by copying labels forward without
    * running them. The early stop is therefore output-IDENTICAL to the
    * fully unrolled computation (and to the unrolled-CTE oracle): it cuts
    * cost, never results. Schema is fixed at `levels` columns regardless
    * of where convergence lands, keeping the frame hash-stable.
    *
    * Scale shape: level 1 dominates (|E|-sized sweeps); every later level
    * runs on the community graph. The dendrogram join chain is one
    * |V|-row frame widened by L−1 broadcast-sized label maps.
    */
  def louvainDendrogram(vertices: DataFrame, pairs: DataFrame, levels: Int,
                        rounds: Int): DataFrame = {
    require(levels >= 1 && levels <= 4,
      s"louvainDendrogram supports 1-4 levels (got $levels)")
    // checkpoint the input ONCE: the level-1 moves read it three ways
    // (adjacency, degree, 2m) and the coarsen reads it again — an uncp'd
    // caller plan (e.g. the co-purchase self-join) would be re-derived
    // per consumer (measured 91 s vs 24 s at sf0.1 bench)
    var curPairs = pairs.select(col("a"), col("b"), col("w")).cp()
    var lbl = louvainMoves(vertices, curPairs, rounds).cp()
    var dendro = lbl.select(col("id"), col("community").as("c1"))
    var curSelf: Option[DataFrame] = None
    var converged = false
    for (l <- 2 to levels) {
      if (!converged) {
        val (e2r, s2, v2) = louvainCoarsen(curPairs, curSelf, lbl)
        val e2 = e2r.cp()
        // the coarse community graph is index-state-sized after level 1;
        // below the bound, run the IDENTICAL exact-integer algebra
        // locally ([[louvainMovesLocal]] — the measured 45-90 s of
        // per-round planning/AQE overhead bought milliseconds of compute)
        val l2 = louvainMovesAuto(v2, e2, rounds, Some(s2)).cp()
        converged = l2.filter(col("community") =!= col("id")).isEmpty
        dendro = dendro.join(
          l2.select(col("id").as(s"c${l - 1}"),
            col("community").as(s"c$l")),
          Seq(s"c${l - 1}"))
        curPairs = e2; curSelf = Some(s2); lbl = l2
      } else {
        // fixpoint: the level-(l-1) move sweeps kept every label, so
        // level l's labels are the same frame under an identity coarsen
        dendro = dendro.withColumn(s"c$l", col(s"c${l - 1}"))
      }
    }
    dendro.select(col("id") +: (1 to levels).map(i => col(s"c$i")): _*)
  }

  /** Run independent driver-side build thunks CONCURRENTLY (guide §2.6 —
    * overlap independent jobs so the tail of one fixpoint's tiny rounds
    * back-fills executors freed by another): each thunk typically drives
    * its own iterative loop (actions inside). Results come back in input
    * order, so downstream unions stay deterministic. Spark's scheduler is
    * designed for concurrent job submission; the only shared mutable
    * session state on these paths is [[Ckpt.cpByKey]]'s AQE toggle, which
    * is serialized on the Ckpt monitor (a sibling thread that plans during
    * that window merely plans that one frame non-adaptively — a physical-
    * plan nuance, never a result change). A thunk failure propagates.
    */
  private[graft] def inParallel[T](thunks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futs = thunks.map(t => pool.submit(
        new java.util.concurrent.Callable[T] { def call(): T = t() }))
      futs.map(_.get())
    } finally pool.shutdown()
  }

  /** Connected components WITHOUT GraphX: min-label propagation iterated to
    * the fixpoint in pure DataFrames (labels lineage-truncated per round,
    * convergence = zero changed labels). Labels = min vertex id per
    * component — identical to GraphX ConnectedComponents and to the
    * recursive min-label oracle. O(graph diameter) rounds.
    *
    * The label-frame broadcast is GATED on |V| ≤ `broadcastMaxRows` (|V|
    * is one count on the checkpointed initial labels, invariant across
    * rounds): past the ceiling both per-round joins run un-hinted.
    *
    * Rounds after the first propagate ONLY from the frontier — the rows
    * whose label improved last round — not from the full label frame:
    * labels are monotone, so a neighbor whose label did NOT change last
    * round already had its current label min-folded into every adjacent
    * vertex in the round it last improved (the same Bellman-Ford queue
    * argument as [[graft.ops.GraphOps.graphWsssp]]'s relaxation). The
    * convergence tail (changed = tens of rows for several rounds on a
    * chain-heavy graph — the r9 sf0.1 probe measured rounds 4–7 changing
    * 20/10/2/0 labels) then joins a frontier-sized broadcast against |E|
    * instead of re-shuffling the full label frame: at 100 TB that turns
    * the tail rounds from full-|E| exchanges into near-free map-side
    * probes, and the frontier hint self-gates because its row count IS
    * the convergence counter the loop already computes.
    */
  def connectedComponentsDf(vertices: DataFrame, pairs: DataFrame,
                            broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    // checkpoint the caller's pair lineage ONCE before mirroring: the
    // union's two branches would otherwise each re-derive it during the
    // cpByKey materialization (for graph_cc_df that is the whole
    // co-purchase self-join, twice — guide §2.4)
    val cp = pairs.select(col("a"), col("b")).cp()
    // clustered on the propagation GROUP key `b`: each round's neighbor-min
    // aggregation inherits it through the broadcast label join (VERDICT #6)
    val both = Ckpt.cpByKey(
      cp.unionAll(cp.select(col("b").as("a"), col("a").as("b"))), col("b"))
    var labels = vertices.select(col("part").as("id"), col("part").as("lbl"))
      .cp()
    val nV = labels.count() // label frame stays exactly |V| rows every round
    var frontier = labels // round 1 relaxes from everyone
    var frontierRows = nV
    var changed = 1L
    while (changed > 0) {
      val nbrMin = both.join(hinted(frontier, frontierRows, broadcastMaxRows),
          col("a") === col("id"))
        .groupBy(col("b").as("nid")).agg(min(col("lbl")).as("nmin"))
      // checkpointed BEFORE the self-join below — both join sides read it,
      // and an unmaterialized cand would re-execute the propagation join
      // twice per round. `prev` (the pre-round label) rides along so the
      // round's diff is a FILTER on the checkpointed frame instead of a
      // third per-round join against the old labels (r15, guide §2.4).
      val cand = labels.join(nbrMin, col("id") === col("nid"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
        .cp()
      // pointer jumping: also adopt the label OF the current label — takes
      // round count from O(diameter) to O(log diameter); the invariant
      // (label = id of a same-component vertex, monotonically decreasing)
      // is preserved, so the fixpoint is the same min-id labeling
      val next = cand.join(
          hinted(cand.select(col("id").as("yid"), col("lbl").as("ylbl")),
            nV, broadcastMaxRows),
          col("lbl") === col("yid"), "left")
        .select(col("id"), col("prev"),
          least(col("lbl"), coalesce(col("ylbl"), col("lbl"))).as("lbl"))
        .cp()
      // the diff IS the next frontier (vertices whose label improved this
      // round — via the edge join or via pointer jumping; either way their
      // neighbors must observe the new label next round); labels are
      // monotone non-increasing, so carried-prev ≠ new ⟺ improved
      val diff = next.filter(col("lbl") =!= col("prev"))
        .select(col("id"), col("lbl"))
      changed = diff.count()
      frontier = diff
      frontierRows = changed
      labels = next.select(col("id"), col("lbl"))
    }
    labels.select(col("id"), col("lbl").as("comp"))
  }

  /** Borůvka minimum spanning forest over weighted undirected edges
    * `(a, b, w)` — THE parallel MST algorithm (each round every component
    * picks its lightest outgoing edge, then components contract), and the
    * backbone/sparsification primitive a graph store serves. Edges are
    * totally ordered by the lexicographic key (w, a, b); since (a, b) is
    * unique per edge the order is strict, so by the cut property the
    * returned forest is the UNIQUE minimum spanning forest — bit-stable
    * across engines and runs, no float, no RNG (Round15Spec's independent
    * witness is a local Kruskal under the same key).
    *
    * Scale: the component count at least HALVES each round (every
    * component merges along its picked edge), so the outer loop is
    * ≤ log₂|V| rounds — fixpoint-depth-bounded like
    * [[connectedComponentsDf]], never data-sized. Per round: two label
    * joins against |E| and a min-struct collapse of the component
    * MULTIGRAPH to one row per unordered component pair (lossless by the
    * cycle property — only the pair-min edge can enter the forest; the
    * frame shrinks quadratically with the component count) — the only
    * data-sized work. When the collapsed pair frame is at or under
    * `localFinishMax` rows, ONE driver-local Kruskal under the global
    * (w, a, b) order finishes every remaining round at once (Kruskal on
    * the contracted min-per-pair graph yields exactly the remaining MSF
    * edges) — the long tail of tiny rounds costs driver time, not
    * per-round job latency. Contraction runs over the PICKED-edge
    * component graph (≤ |components| rows, shrinking geometrically);
    * when that graph is at or under `localContractMax` rows it is a
    * driver-local union-find + one broadcast relabel join (the
    * documented ≤1M-row bounded-driver posture of the Louvain coarse
    * levels — the picked pseudo-forest can be a long CHAIN, so even a
    * pointer-jumping distributed fixpoint pays O(log diameter) full
    * passes per outer round for a frame that fits in one task), and only
    * above the bound does it fall back to the distributed
    * [[connectedComponentsDf]] fixpoint — at 10⁹ vertices that fallback
    * runs for the first ~⌈log₂(V/10⁶)⌉ rounds, after which halving pulls
    * the component graph under the bound. `maxRounds` is a runaway
    * backstop (48 covers 2⁴⁸ components), not a tuning knob.
    */
  def boruvkaForest(edges: DataFrame, maxRounds: Int = 48,
                    localFinishMax: Long = 2000000L,
                    localContractMax: Long = 1000000L,
                    broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("a"), col("b"), col("w").cast("long").as("w"))
      .cp()
    // round-0 fast path: labels start as the identity, so the label joins
    // and the pair collapse are no-ops — if the raw edge list already fits
    // the local-finish bound (2M rows ≈ 80 MB of longs, the same
    // bounded-driver posture as the ≤1M-edge coarse Louvain levels), one
    // local Kruskal IS the whole algorithm; parallel (a, b) duplicates
    // just fail their union and drop out
    val nE = e.count()
    if (nE <= localFinishMax) {
      val rows = e.collect()
        .map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
        .sortBy(identity)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val picked = rows.flatMap { case (w, a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) None
        else {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
          Some((a, b, w))
        }
      }
      return picked.toSeq.toDF("a", "b", "w")
        .select(col("a"), col("b"), col("w").cast("long").as("w"))
    }
    var lab = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .distinct().select(col("v"), col("v").as("c")).cp()
    var forest: DataFrame = e.filter(lit(false))
    var nComp = lab.count() // labels start 1:1 with vertices
    var rounds = 0
    var outgoing = 1L
    while (rounds < maxRounds && outgoing > 0) {
      // collapse the component MULTIGRAPH first: between two current
      // components only the (w, a, b)-min parallel edge can ever enter
      // the forest (cycle property), so one row per unordered pair is a
      // lossless frame — it shrinks quadratically with the component
      // count while |E| stays fixed
      val el = e
        .join(lab.select(col("v").as("a"), col("c").as("ca")), "a")
        .join(lab.select(col("v").as("b"), col("c").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      val k = struct(col("w"), col("a"), col("b"), col("ca"), col("cb"))
      val pairMin = el
        .select(least(col("ca"), col("cb")).as("pa"),
          greatest(col("ca"), col("cb")).as("pb"), k.as("k"))
        .groupBy(col("pa"), col("pb")).agg(min(col("k")).as("k"))
        .select(col("k.w").as("w"), col("k.a").as("a"), col("k.b").as("b"),
          col("k.ca").as("ca"), col("k.cb").as("cb"))
        .cp()
      outgoing = pairMin.count()
      if (outgoing > 0 && outgoing <= localFinishMax) {
        // endgame: the whole component-level edge list fits the bounded-
        // driver posture — ONE local Kruskal under the global (w, a, b)
        // order finishes every remaining round (Kruskal on the contracted
        // min-per-pair graph is exactly the remaining MSF edges), instead
        // of paying per-round job latency down the long tail
        val rows = pairMin.select(col("w"), col("a"), col("b"),
            col("ca"), col("cb")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
          .sortBy { case (w, a, b, _, _) => (w, a, b) }
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        val pickedLocal = rows.flatMap { case (w, a, b, ca, cb) =>
          val (ra, rb) = (find(ca), find(cb))
          if (ra == rb) None
          else {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
            Some((a, b, w))
          }
        }
        forest = forest.unionAll(
          pickedLocal.toSeq.toDF("a", "b", "w")
            .select(col("a"), col("b"), col("w").cast("long").as("w")))
        outgoing = 0L
      } else if (outgoing > 0) {
        // a full Borůvka round on the collapsed pair frame: each endpoint
        // component picks its min edge (the struct carries the component
        // ids along, so contraction needs no further edge-list join)
        val kk = struct(col("w"), col("a"), col("b"), col("ca"), col("cb"))
        val both = pairMin.select(col("ca").as("c"), kk.as("k"))
          .unionAll(pairMin.select(col("cb").as("c"), kk.as("k")))
        // distinct: the two endpoint components of an edge both pick it
        val picked = both.groupBy(col("c")).agg(min(col("k")).as("k"))
          .select(col("k.w").as("w"), col("k.a").as("a"), col("k.b").as("b"),
            col("k.ca").as("ca"), col("k.cb").as("cb"))
          .distinct().cp()
        forest = forest.unionAll(picked.select(col("a"), col("b"), col("w")))
        if (nComp <= localContractMax) {
          // bounded-driver contraction: ≤ nComp picked pairs, union-find
          // with min-id roots (deterministic labels), one broadcast
          // relabel join — no inner fixpoint
          val pairs = picked.select(col("ca"), col("cb")).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          val parent = scala.collection.mutable.Map[Long, Long]()
          def find(x: Long): Long = {
            val p = parent.getOrElse(x, x)
            if (p == x) x else { val r = find(p); parent(x) = r; r }
          }
          pairs.foreach { case (x, y) =>
            val (rx, ry) = (find(x), find(y))
            if (rx != ry) {
              if (rx < ry) parent(ry) = rx else parent(rx) = ry
            }
          }
          val mapping = parent.keys.toSeq.map(cId => (cId, find(cId)))
            .filter { case (cId, r) => cId != r }
          nComp -= mapping.length
          val mapDf = mapping.toDF("c", "newc")
          lab = lab.join(broadcast(mapDf), Seq("c"), "left")
            .select(col("v"), coalesce(col("newc"), col("c")).as("c")).cp()
        } else {
          // scale path: distributed CC over the picked component graph
          val pe = picked.select(col("ca").as("a"), col("cb").as("b"))
          val cverts = lab.select(col("c").as("part")).distinct()
          val merged = connectedComponentsDf(cverts, pe, broadcastMaxRows)
            .alias("m")
          lab = lab.alias("l").join(merged, col("l.c") === col("m.id"))
            .select(col("l.v").as("v"), col("m.comp").as("c")).cp()
          nComp = lab.select(col("c")).distinct().count()
        }
      }
      rounds += 1
    }
    forest.select(col("a"), col("b"), col("w"))
  }

  /** Directed min-label reach fixpoint: labels flow `from` → `to` along
    * `flow` rows until no label improves. With flow = reversed edges this
    * computes fwd(v) = min id forward-REACHABLE from v; with flow = the
    * edges themselves it computes bwd(v) = min id that REACHES v — the two
    * halves of the SCC coloring below. Same frontier gating as
    * [[connectedComponentsDf]] (labels are monotone non-increasing, so a
    * vertex whose label did not change last round has already been
    * min-folded into every flow successor), same broadcast row gate;
    * pointer jumping is omitted because the backbone graphs this serves
    * are diameter-bounded sketches (the CC variant keeps it because whole
    * co-purchase components can be chain-shaped).
    */
  private def minReachLabels(vertices: DataFrame, flow: DataFrame,
                             broadcastMaxRows: Long): DataFrame = {
    val fl = Ckpt.cpByKey(flow.select(col("from"), col("to")), col("to"))
    var labels = vertices.select(col("id"), col("id").as("lbl")).cp()
    val nV = labels.count()
    var frontier = labels
    var frontierRows = nV
    var changed = 1L
    while (changed > 0) {
      val nbrMin = fl.join(hinted(frontier, frontierRows, broadcastMaxRows),
          col("from") === col("id"))
        .groupBy(col("to").as("nid")).agg(min(col("lbl")).as("nmin"))
      val next = labels.join(nbrMin, col("id") === col("nid"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
        .cp()
      frontier = next.filter(col("lbl") < col("prev"))
        .select(col("id"), col("lbl"))
      frontierRows = frontier.count()
      changed = frontierRows
      labels = next.select(col("id"), col("lbl"))
    }
    labels
  }

  /** Strongly connected components of a DIRECTED (src, dst) edge frame —
    * iterated forward/backward min-label coloring. Each outer round runs
    * two [[minReachLabels]] fixpoints over the still-unassigned subgraph:
    * fwd(v) = min id v can reach, bwd(v) = min id that can reach v. A
    * vertex with fwd(v) = bwd(v) = c both reaches c and is reached by c,
    * so it sits in c's SCC and is labeled `scc = c` — and because every
    * member of one SCC sees identical fwd/bwd over the same remaining
    * graph, whole SCCs retire atomically with c = the SCC's minimum id
    * (c is forward-reachable from all members, so c ≤ min; c is a member,
    * so c = min). The remaining-graph minimum always satisfies the
    * predicate, so ≥ 1 SCC retires per round — the round cap is a
    * convergence assertion, not a semantics knob.
    *
    * Scale shape: every per-round frame is vertex- or edge-sized, the
    * label joins are broadcast-GATED on measured row counts, and the
    * subgraph restriction is two semi-joins on the retired set — nothing
    * materializes pairs. Worst-case outer rounds = the condensation's
    * chain length (a long path of singleton SCCs) ≤ |V|, so the effective
    * cap is derived from the input's vertex count (maxRounds is only a
    * floor) — a valid input can exhaust patience, never trip a
    * require(); the assertion fires solely on a genuine non-convergence
    * bug.
    */
  def stronglyConnectedComponents(vertices: DataFrame, edges: DataFrame,
                                  broadcastMaxRows: Long = BroadcastMaxRows,
                                  maxRounds: Int = 64): DataFrame = {
    var remV = vertices.select(col("id")).cp()
    var remE = edges.select(col("src"), col("dst")).cp()
    var out: DataFrame = null
    var nRem = remV.count()
    // ≥ 1 SCC retires per round ⇒ ≤ |V| rounds suffice for ANY input
    val roundCap = math.max(maxRounds.toLong, nRem)
    var round = 0
    while (nRem > 0) {
      round += 1
      require(round <= roundCap,
        s"SCC coloring did not converge in $roundCap rounds")
      val fwd = minReachLabels(remV,
        remE.select(col("dst").as("from"), col("src").as("to")),
        broadcastMaxRows)
      val bwd = minReachLabels(remV,
        remE.select(col("src").as("from"), col("dst").as("to")),
        broadcastMaxRows)
      val done = fwd.as("f").join(bwd.as("b"), col("f.id") === col("b.id"))
        .filter(col("f.lbl") === col("b.lbl"))
        .select(col("f.id").as("id"), col("f.lbl").as("scc"))
        .cp()
      out = if (out == null) done else out.unionAll(done)
      remV = remV.join(done.select(col("id")), Seq("id"), "left_anti").cp()
      nRem = remV.count()
      if (nRem > 0) {
        remE = remE
          .join(remV.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(remV.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .cp()
      }
    }
    if (out == null) vertices.select(col("id"), col("id").as("scc"))
    else out
  }

  /** Transitive closure of a seed set along directed (from, to) flow rows:
    * returns the ids reachable from ANY seed, INCLUDING the seeds
    * themselves. Plain frontier expansion — per hop one join of the
    * frontier into the checkpointed flow, anti-joined against the visited
    * set so each vertex is expanded exactly once; the frontier side is
    * broadcast-GATED on its (already-counted) row count. Total work =
    * O(|reached edges|) across all hops — the same shape as [[bfsHops]]
    * but set-seeded and distance-free.
    */
  def reachClosure(seeds: DataFrame, flow: DataFrame,
                   broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val fl = Ckpt.cpByKey(flow.select(col("from"), col("to")), col("from"))
    val seed = seeds.select(col("id")).distinct().cp()
    expandFrontier(seed, seed.count(), 0L, Long.MaxValue)((fresh, _) => fresh) { hop =>
      fl.join(hop.gatedFrontier(broadcastMaxRows), col("from") === col("id"))
        .select(col("to").as("id")).distinct()
        .join(hop.visited, Seq("id"), "left_anti")
    }
  }

  /** Longest-path levels of a DAG given as (src, dst) rows: level(v) = 0
    * for sources, else 1 + max level over predecessors — the topological
    * depth used to schedule/stage a condensation. Iterative relaxation to
    * fixpoint (levels are monotone non-decreasing and bounded by the DAG
    * depth, so ≤ depth+1 rounds, and depth < |V|); each round is one join
    * + max-agg on the edge frame, broadcast-gated like every other label
    * loop here. The effective round cap is derived from the input's
    * vertex count (maxRounds is only a floor), so a chain-shaped DAG of
    * any length converges legitimately — the require() fires only on a
    * true cycle, where levels keep rising past every possible DAG depth.
    */
  def dagLevels(vertices: DataFrame, edges: DataFrame,
                broadcastMaxRows: Long = BroadcastMaxRows,
                maxRounds: Int = 256): DataFrame = {
    val ed = Ckpt.cpByKey(edges.select(col("src"), col("dst")), col("src"))
    var levels = vertices.select(col("id"), lit(0L).as("lvl")).cp()
    val nV = levels.count()
    // a DAG's depth < |V| ⇒ ≤ |V|+1 rounds reach fixpoint on ANY valid DAG
    val roundCap = math.max(maxRounds.toLong, nV + 1L)
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      require(round <= roundCap,
        s"dagLevels did not converge in $roundCap rounds — cycle in input?")
      val cand = ed.join(hinted(levels, nV, broadcastMaxRows),
          col("src") === col("id"))
        .groupBy(col("dst").as("nid"))
        .agg((max(col("lvl")) + 1L).as("nlvl"))
      val next = levels.join(cand, col("id") === col("nid"), "left")
        .select(col("id"), col("lvl").as("prev"),
          greatest(col("lvl"), coalesce(col("nlvl"), col("lvl"))).as("lvl"))
        .cp()
      changed = next.filter(col("lvl") > col("prev")).count()
      levels = next.select(col("id"), col("lvl"))
    }
    levels
  }

  /** Most sources [[multiBfsHops]] packs into its one-BIGINT bitmask. */
  val MsBfsMaxSources: Int = 60

  /** MULTI-source BFS hop distances: [[bfsHops]] generalized to a frame of
    * source vertices — one frontier loop computes distances from EVERY
    * source simultaneously (the landmark pattern: k-source BFS costs one
    * traversal, not k). `sources` must expose a `src` column.
    *
    * With ≤ [[MsBfsMaxSources]] sources (the landmark ops pass 8), the
    * traversal runs the MS-BFS BITMASK formulation (Then et al., "The
    * More the Merrier: Efficient Multi-Source BFS", VLDB 2015): state is
    * keyed by VERTEX with one BIGINT whose bit i records "source i has
    * reached this vertex", instead of one (src, id) row per pair. The
    * per-hop expansion then joins one row per frontier VERTEX (not per
    * reached pair — up to k× fewer rows once the sources' frontiers
    * overlap, which on a small-world graph is every hop past the first),
    * the dedup/agg keys on the vertex id alone, and the visited state is
    * ≤ |V| rows instead of ≤ k·|V|. First-reach bits are
    * `contrib & ~visited`, so per (source, vertex) exactly one hop emits
    * the bit — the exploded (src, id, dist) output is row-identical to
    * the pair-keyed spelling (ApiSpec's two `multiBfsHops` tests pin it
    * against [[multiBfsHopsPairs]]). Above the source cap (or with
    * duplicate source rows) the pair-keyed loop below runs unchanged.
    */
  def multiBfsHops(edgesBoth: DataFrame, sources: DataFrame, maxHops: Int,
                   broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    // probe the source list: landmark frames are tiny by construction
    // (orderBy+limit), so the ≤(cap+1)-row collect is bounded driver
    // state — the same accepted posture as the landmark limit itself
    val probe = sources.select(col("src")).limit(MsBfsMaxSources + 1)
      .collect().map(_.getLong(0)).toSeq
    val ids = probe.distinct.sorted
    if (probe.size > MsBfsMaxSources || ids.size != probe.size)
      multiBfsHopsPairs(edgesBoth, sources, maxHops, broadcastMaxRows)
    else {
      val sess = edgesBoth.sparkSession
      import sess.implicits._
      val adj = edgesBoth.select(col("a"), col("b")).cp()
      // bit i = the i-th source in sorted id order (any fixed order works;
      // sorted makes the mapping deterministic and debuggable)
      val bitsDf = ids.zipWithIndex.toDF("bsrc", "bit")
      var visited = ids.zipWithIndex
        .map { case (s, i) => (s, 1L << i) }.toDF("id", "mask").cp()
      var frontier = visited
      var frontierRows = ids.size.toLong
      var visitedRows = frontierRows // upper bound is enough for the gate
      var h = 1L
      var levels = Seq.empty[DataFrame] // (id, dist, mask) first-reach rows
      var done = frontierRows == 0
      while (h <= maxHops && !done) {
        // expansion: one row per (frontier vertex, neighbor); bit_or folds
        // the reaching-source sets map-side (the mask aggregate is the
        // partial-agg-friendly analogue of the pair spelling's distinct)
        val contrib = adj
          .join(hinted(frontier, frontierRows, broadcastMaxRows),
            col("a") === col("id"))
          .groupBy(col("b").as("nid"))
          .agg(expr("bit_or(mask)").as("cmask"))
        val fresh = contrib
          .join(hinted(visited, visitedRows, broadcastMaxRows),
            col("nid") === col("id"), "left")
          .select(col("nid").as("id"),
            col("cmask").bitwiseAND(
              coalesce(col("mask"), lit(0L)).bitwiseXOR(lit(-1L)))
              .as("mask"))
          .filter(col("mask") =!= 0L)
          .cp()
        frontierRows = fresh.count()
        if (frontierRows == 0) done = true
        else {
          levels = levels :+ fresh.select(col("id"),
            lit(h).as("dist"), col("mask"))
          visited = visited.unionAll(fresh).groupBy(col("id"))
            .agg(expr("bit_or(mask)").as("mask")).cp()
          visitedRows += frontierRows
          frontier = fresh
          h += 1
        }
      }
      // explode masks back to (src, id, dist): ≤ k tiny bit rows against
      // the first-reach frames — linear, map-side, once at the END (never
      // inside the hop loop). The hop-0 self rows come from the RAW probe
      // list, preserving the pair spelling's duplicate-source behavior.
      val zero = probe.map(s => (s, s, 0L)).toDF("src", "id", "dist")
      if (levels.isEmpty) zero
      else {
        val expl = levels.reduce(_ unionAll _)
          .join(broadcast(bitsDf),
            expr("(mask & shiftleft(cast(1 as bigint), bit)) != 0"))
          .select(col("bsrc").as("src"), col("id"), col("dist"))
        zero.unionAll(expl)
      }
    }
  }

  /** The pair-keyed [[multiBfsHops]] spelling — state is one (src, id)
    * row per reached pair; the per-hop expansion, first-visit anti-join
    * and broadcast gating are bfsHops' unchanged (the frontier row budget
    * counts (src, id) pairs, which is exactly what the broadcast would
    * ship). Kept as the fallback for > [[MsBfsMaxSources]] or duplicate
    * sources, where the bitmask packing does not apply.
    */
  private[graft] def multiBfsHopsPairs(edgesBoth: DataFrame, sources: DataFrame,
                                       maxHops: Int,
                                       broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val adj = edgesBoth.select(col("a"), col("b")).cp()
    val seed = sources.select(col("src"), col("src").as("id")).cp()
    expandFrontier(seed, seed.count(), 0L, maxHops)(
        (fresh, h) => fresh.select(col("src"), col("id"), lit(h).as("dist"))) { hop =>
      // NOTE (r15): distinct-FIRST is deliberate — the partial aggregate
      // collapses the Σdeg expansion map-side before any join, and an
      // A/B of the anti-before-distinct spelling (broadcast visited set)
      // measured consistently SLOWER here (the per-hop broadcast build of
      // the growing visited frame cost more than the smaller dedup saved;
      // the σ-folding sibling multiBfsSigma is where that reorder wins)
      adj.join(hop.gatedFrontier(broadcastMaxRows), col("a") === col("id"))
        .select(col("src"), col("b").as("id")).distinct()
        .join(hop.visited.select(col("src"), col("id")), Seq("src", "id"),
          "left_anti")
    }
  }

  /** [[multiBfsHops]] carrying Brandes path counts: per (src, id) the hop
    * distance AND σ = the exact BIGINT number of distinct shortest
    * src→id paths (each hop's σ is the sum of the predecessors' σ — the
    * level-synchronous forward pass of Brandes' betweenness algorithm).
    * Same frontier/anti-join/broadcast-gating shape as multiBfsHops; the
    * per-hop groupBy(src, b) both dedups the frontier and folds σ in one
    * exchange. σ is exact while it fits BIGINT (levels are capped by
    * maxHops, so the combinatorial blowup of an unbounded small-world
    * expansion is bounded by construction).
    */
  def multiBfsSigma(edgesBoth: DataFrame, sources: DataFrame, maxHops: Int,
                    broadcastMaxRows: Long = BroadcastMaxRows): DataFrame =
    multiBfsSigmaOn(edgesBoth.select(col("a"), col("b")).cp(), sources,
      maxHops, broadcastMaxRows)

  /** [[multiBfsSigma]] over a PRE-CHECKPOINTED (a, b) adjacency — the
    * Brandes pipeline shares ONE materialized edge frame across the
    * forward σ pass, the backward δ pass and the edge-credit join
    * (each public entry point otherwise re-derives AND re-checkpoints
    * the caller's full edge lineage: for the betweenness ops that was
    * the co-purchase self-join built 2-3× per query — guide §2.4).
    * The returned state frame is checkpointed (per-round cp), so
    * downstream passes can consume it without re-materializing.
    */
  private[graft] def multiBfsSigmaOn(adj: DataFrame, sources: DataFrame,
                                     maxHops: Int,
                                     broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val seed = sources.select(col("src"), col("src").as("id"),
      lit(1L).as("sigma")).cp()
    expandFrontier(seed, seed.count(), 0L, maxHops)((fresh, h) => fresh.select(
        col("src"), col("id"), lit(h).as("dist"), col("sigma"))) { hop =>
      // first-visit anti BEFORE the σ fold (identical: visited (src, b)
      // groups are removed WHOLE either way, so the per-group sums are
      // untouched), broadcast-gated so it runs map-side and the fold's
      // exchange carries only new-frontier groups (r15, guide §2.3/§3.1)
      adj.join(hop.gatedFrontier(broadcastMaxRows), col("a") === col("id"))
        .select(col("src"), col("b"), col("sigma"))
        .join(hinted(hop.visited.select(col("src"), col("id").as("b")),
          hop.visitedRows, broadcastMaxRows), Seq("src", "b"), "left_anti")
        .groupBy(col("src"), col("b"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("src"), col("b").as("id"), col("sigma"))
    }
  }

  /** Brandes backward pass over a [[multiBfsSigma]] frame: per-(src, id)
    * dependency δ, MICRO-quantized (δ in units of 1e-6 path-credits) so
    * the level sums accumulate in exact BIGINTs — each predecessor
    * contribution is the fixed double tree
    * `floor(σv/σw · (1e6 + δw) + 0.5)` evaluated on exact integer inputs
    * (identical IEEE ops on identical operands on any engine — the
    * agg_chisq determinism discipline), then summed order-independently.
    * Levels are processed deepest-first; each step is one join of the
    * level-h frame against the already-resolved level-(h+1) deltas.
    * Returns (src, id, dist, delta_micro, sigma) for every NON-SOURCE visited
    * node (dist ≥ 1); level-0 rows (the sources themselves) are excluded,
    * as Brandes excludes δ(s,s).
    */
  def brandesDeltas(edgesBoth: DataFrame, sigmaState: DataFrame): DataFrame =
    // checkpoint the edge frame ONCE: every backward level joins it, and
    // without this each of the ≤5 level joins re-derives the caller's
    // edge lineage (a parquet scan + the co-purchase build, per level)
    brandesDeltasOn(edgesBoth.select(col("a"), col("b")).cp(),
      sigmaState.cp())

  /** [[brandesDeltas]] over a PRE-CHECKPOINTED adjacency and σ state —
    * see [[multiBfsSigmaOn]]: [[multiBfsSigma]]'s returned state is
    * already checkpointed per round, so the public wrapper's `.cp()`
    * re-materializes it for nothing when the two are piped directly.
    */
  private[graft] def brandesDeltasOn(adj: DataFrame, st: DataFrame,
                                     broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    // NODE-betweenness path: per-level adjacency joins, NO materialized
    // DAG frame. An r16 A/B moved this op onto [[brandesBackward]]'s
    // shared DAG spelling and it measured ~30% SLOWER (min-of-5 12.98 s
    // vs 9.82 s at sf0.1/32): with a single downstream consumer the
    // ≤|sources|·|E|-row DAG materialization costs more than the ≤5
    // per-level |E|-stream broadcast joins it replaces. The DAG pays off
    // only when the edge-credit pass REUSES it (graphEdgeBetweenness,
    // measured ~18% faster there) — so the two ops deliberately take
    // different backward spellings.
    val stRows = st.count()
    val maxDist = st.agg(max(col("dist"))).head().getLong(0)
    if (maxDist < 1) return st.filter(lit(false))
      .select(col("src"), col("id"), col("dist"), lit(0L).as("delta"),
        col("sigma"))
    var deeper = st.filter(col("dist") === maxDist)
      .select(col("src"), col("id"), col("dist"), lit(0L).as("delta"),
        col("sigma")).cp()
    // σ rides along in every per-level frame (r15, guide §2.4): the old
    // w side re-joined the full σ state per level just to re-attach the
    // sigma it had already carried at level resolution; the output is one
    // LAZY union of the per-level checkpoints (the accumulation is never
    // a join target inside the loop, so — unlike the BFS visited set —
    // nothing re-materializes per level)
    var out = Seq(deeper)
    var h = maxDist - 1
    while (h >= 1) {
      // the w-side frame renames EVERY column (wsrc/wid/wsigma/wdelta):
      // both frames descend from the same dataset `st`, and an unaliased
      // vlev("src") === wlev("src") would resolve only through dataset-id
      // metadata (warning spam + a latent ambiguity hazard); distinct
      // names make the cross-source equality unambiguous by construction
      val vlev = st.filter(col("dist") === h)
        .select(col("src"), col("id"), col("sigma"))
      val wlev = deeper
        .select(col("src").as("wsrc"), col("id").as("wid"),
          col("sigma").as("wsigma"), col("delta").as("wdelta"))
      // predecessor edges v→w (v at level h, w at level h+1): the fixed
      // double tree below is the ONLY float in Brandes here, quantized
      // per contribution then BIGINT-summed (order-independent)
      val contribs = adj
        .join(hinted(vlev, stRows, broadcastMaxRows),
          adj("a") === vlev("id"))
        .join(hinted(wlev, stRows, broadcastMaxRows),
          col("b") === col("wid") &&
          col("src") === col("wsrc"))
        .select(col("src"), col("id"),
          floor(col("sigma").cast("double") /
            col("wsigma").cast("double") *
            (lit(1000000L) + col("wdelta")).cast("double") + lit(0.5))
            .cast("long").as("c"))
        .groupBy(col("src"), col("id"))
        .agg(sum(col("c")).as("delta"))
      // contribs keys are the level's (src, id) set (≤ stRows too):
      // broadcast keeps the per-level resolve map-side as well
      val lev = vlev
        .join(hinted(contribs, stRows, broadcastMaxRows),
          Seq("src", "id"), "left")
        .select(col("src"), col("id"), lit(h).as("dist"),
          coalesce(col("delta"), lit(0L)).as("delta"), col("sigma")).cp()
      out = out :+ lev
      deeper = lev
      h -= 1
    }
    out.reduce(_ unionAll _)
  }

  /** Backward pass for the EDGE-betweenness pipeline: returns (δ frame,
    * shortest-path-DAG edge frame). The DAG frame — one row per
    * (src, v→w) edge with dist_s(w) = dist_s(v)+1, σ attached at both
    * ends — is materialized ONCE and shared by every backward level AND
    * by [[brandesEdgeCreditsDag]] (r16, guide §2.4): the old spelling
    * re-joined the |E| adjacency against the σ state per backward level
    * (≤5×) and then a sixth time for the edge credits — six |E|-stream
    * joins collapse into one. The tradeoff is one landmark-scaled
    * materialization (≤ |sources|·|E| rows); it pays ONLY because the
    * edge-credit pass reuses the frame — [[brandesDeltasOn]] keeps the
    * per-level spelling for the single-consumer node op (measured A/B in
    * its docstring).
    */
  private[graft] def brandesBackward(adj: DataFrame, st: DataFrame,
                                     broadcastMaxRows: Long = BroadcastMaxRows): (DataFrame, DataFrame) = {
    // gates every broadcast below: v/w sides and contribs are all SUBSETS
    // of the σ state (≤ stRows rows), and the state is cp'd so the count
    // is one cheap job. Ungated, the cp'd state's unknown stats sent the
    // DAG build through a sort-merge join — shuffling AND sorting the
    // full |E| adjacency (guide §3.1: broadcast the side that fits,
    // stream the big side).
    val stRows = st.count()
    val maxDist = st.agg(max(col("dist"))).head().getLong(0)
    val empty = st.filter(lit(false))
      .select(col("src"), col("id"), col("dist"), lit(0L).as("delta"),
        col("sigma"))
    if (maxDist < 1) return (empty, empty
      .select(col("src"), col("id").as("vid"), col("id").as("wid"),
        col("dist").as("vdist"), col("sigma").as("vsigma"),
        col("sigma").as("wsigma")))
    // the v/w sides rename EVERY column: both descend from the same
    // dataset `st`, and an unaliased v("src") === w("src") would resolve
    // only through dataset-id metadata (warning spam + a latent ambiguity
    // hazard); distinct names make the cross-source equality unambiguous
    // by construction
    val v = st.select(col("src").as("vsrc"), col("id").as("vid"),
      col("sigma").as("vsigma"), col("dist").as("vdist"))
    val w = st.select(col("src").as("wsrc"), col("id").as("wid"),
      col("sigma").as("wsigma"), col("dist").as("wdist"))
    val dagE = adj
      .join(hinted(v, stRows, broadcastMaxRows), adj("a") === col("vid"))
      .join(hinted(w, stRows, broadcastMaxRows),
        col("b") === col("wid") && col("vsrc") === col("wsrc") &&
          col("wdist") === col("vdist") + lit(1L))
      .select(col("vsrc").as("src"), col("vid"), col("wid"),
        col("vdist"), col("vsigma"), col("wsigma"))
      .cp()
    var deeper = st.filter(col("dist") === maxDist)
      .select(col("src"), col("id"), col("dist"), lit(0L).as("delta"),
        col("sigma")).cp()
    // σ rides along in every per-level frame (r15, guide §2.4): the old
    // w side re-joined the full σ state per level just to re-attach the
    // sigma it had already carried at level resolution; the output is one
    // LAZY union of the per-level checkpoints (the accumulation is never
    // a loop join target inside the loop, so — unlike the BFS visited set
    // — nothing re-materializes per level)
    var out = Seq(deeper)
    var h = maxDist - 1
    while (h >= 1) {
      val wdelta = deeper
        .select(col("src").as("wsrc"), col("id").as("dwid"),
          col("delta").as("wdelta"))
      // predecessor edges v→w (v at level h, w at level h+1) come from
      // the shared DAG frame — a filter, not an |E| join; the fixed
      // double tree below is the ONLY float in Brandes here, quantized
      // per contribution then BIGINT-summed (order-independent)
      val contribs = dagE.filter(col("vdist") === h)
        .join(hinted(wdelta, stRows, broadcastMaxRows),
          col("wid") === col("dwid") && col("src") === col("wsrc"))
        .select(col("src"), col("vid").as("id"),
          floor(col("vsigma").cast("double") /
            col("wsigma").cast("double") *
            (lit(1000000L) + col("wdelta")).cast("double") + lit(0.5))
            .cast("long").as("c"))
        .groupBy(col("src"), col("id"))
        .agg(sum(col("c")).as("delta"))
      // contribs keys are the level's (src, id) set (≤ stRows too):
      // broadcast keeps the per-level resolve map-side as well
      val lev = st.filter(col("dist") === h)
        .select(col("src"), col("id"), col("sigma"))
        .join(hinted(contribs, stRows, broadcastMaxRows),
          Seq("src", "id"), "left")
        .select(col("src"), col("id"), lit(h).as("dist"),
          coalesce(col("delta"), lit(0L)).as("delta"), col("sigma")).cp()
      out = out :+ lev
      deeper = lev
      h -= 1
    }
    (out.reduce(_ unionAll _), dagE)
  }

  /** Per-EDGE Brandes credits over a resolved ([[multiBfsSigma]],
    * [[brandesDeltas]]) pair — the Girvan–Newman edge-betweenness
    * ingredient: every shortest-path DAG edge v→w (dist_s(w) =
    * dist_s(v)+1) earns `floor(σv/σw · (1e6 + δw) + 0.5)` micro-credits
    * from source s — the IDENTICAL fixed double tree the node pass sums,
    * so node and edge scores share one quantization discipline. Returns
    * one row per (src, va, wb) with the credit; callers fold to
    * canonical undirected edges. One three-way join, no new traversal —
    * the forward σ and backward δ frames are reused as-is.
    */
  def brandesEdgeCredits(edgesBoth: DataFrame, sigmaState: DataFrame,
                         deltas: DataFrame): DataFrame =
    brandesEdgeCreditsOn(edgesBoth.select(col("a"), col("b")).cp(),
      sigmaState.cp(), deltas)

  /** [[brandesEdgeCredits]] over the SHARED shortest-path-DAG frame the
    * backward pass already materialized ([[brandesBackward]]'s second
    * return): the credit pass is then one broadcast-gated join of the δ
    * frame into the DAG edges — the old spelling re-streamed the |E|
    * adjacency through a three-way join a sixth time (r16, guide §2.4).
    * Every DAG edge's head w is a non-source row (wdist = vdist+1 ≥ 1),
    * so the δ frame covers every head; the v-side σ/dist ride in dagE.
    */
  private[graft] def brandesEdgeCreditsDag(dagE: DataFrame, deltas: DataFrame,
                                           stRows: Long,
                                           broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val wd = deltas.select(col("src").as("wsrc"), col("id").as("dwid"),
      col("delta").as("wdelta"))
    dagE.join(hinted(wd, stRows, broadcastMaxRows),
        col("wid") === col("dwid") && col("src") === col("wsrc"))
      .select(col("src"), col("vid").as("va"), col("wid").as("wb"),
        floor(col("vsigma").cast("double") /
          col("wsigma").cast("double") *
          (lit(1000000L) + col("wdelta")).cast("double") + lit(0.5))
          .cast("long").as("c"))
  }

  /** [[brandesEdgeCredits]] over the PRE-CHECKPOINTED adjacency and σ
    * state the forward/backward passes already materialized (see
    * [[multiBfsSigmaOn]] — one shared edge frame for the whole Brandes
    * pipeline instead of three derive+checkpoint rounds of it).
    */
  private[graft] def brandesEdgeCreditsOn(adj: DataFrame, st: DataFrame,
                                          deltas: DataFrame,
                                          broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    // same renaming rationale as brandesDeltas: both frames descend from
    // st, so the w side renames every column (wsrc/wb/wsigma/wdelta/
    // wdist) and the cross-source src equality is unambiguous names, not
    // dataset-id metadata. The δ frame now CARRIES σ (brandesDeltas r15),
    // so the old per-call σ re-join against the full state is gone.
    // v and w are the σ state and its δ image (≤ stRows rows each):
    // broadcast-gate both so the |E| adjacency STREAMS through the credit
    // join instead of a sort-merge shuffle+sort of it (guide §3.1; same
    // gate as brandesDeltasOn's per-level joins)
    val stRows = st.count()
    val v = st.select(col("src"), col("id").as("va"),
      col("sigma").as("vsigma"), col("dist").as("vdist"))
    val w = deltas
      .select(col("src").as("wsrc"), col("id").as("wb"),
        col("sigma").as("wsigma"), col("delta").as("wdelta"),
        col("dist").as("wdist"))
    adj.join(hinted(v, stRows, broadcastMaxRows), adj("a") === v("va"))
      .join(hinted(w, stRows, broadcastMaxRows), col("b") === col("wb") &&
        col("src") === col("wsrc") &&
        col("wdist") === col("vdist") + lit(1L))
      .select(col("src"), col("va"), col("wb"),
        floor(col("vsigma").cast("double") /
          col("wsigma").cast("double") *
          (lit(1000000L) + col("wdelta")).cast("double") + lit(0.5))
          .cast("long").as("c"))
  }

  /** Bounded BFS WITHOUT GraphX: frontier expansion in pure DataFrames —
    * per hop one broadcast join of the (small) frontier into the
    * checkpointed adjacency, anti-join against the visited set, stop early
    * when the frontier empties. Output (id, dist) for reachable vertices,
    * dist = minimum hop count (identical to GraphX ShortestPaths and the
    * recursive BFS oracle).
    *
    * Scale shape: the frontier broadcast is GATED per hop on the frontier
    * row count — which is free, because the loop already counts the
    * checkpointed frontier to detect termination. A small-world frontier
    * that balloons toward |V| automatically degrades to a shuffle join
    * instead of OOMing on the hint.
    */
  def bfsHops(edgesBoth: DataFrame, src: Long, maxHops: Int,
              broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val s = edgesBoth.sparkSession
    import s.implicits._
    val adj = edgesBoth.select(col("a"), col("b")).cp()
    expandFrontier(Seq(src).toDF("id").cp(), 1L, 0L, maxHops)(
        (fresh, h) => fresh.select(col("id"), lit(h).as("dist"))) { hop =>
      adj.join(hop.gatedFrontier(broadcastMaxRows), col("a") === col("id"))
        .select(col("b").as("id")).distinct()
        .join(hop.visited.select(col("id")), Seq("id"), "left_anti")
    }
  }

  /** Time-decayed popularity: score = Σ value · exp((day − max_day)/τ days),
    * top-k items. The max-day scalar is broadcast, never collected.
    * Per-event contributions are summed as exact BIGINTs — centi-quantized
    * value × per-day quantized exp decay (same determinism contract as
    * the registry op: integer aggregation, no FP reduction-order drift,
    * the transcendental never meets a decimal round()). Assumes `value`
    * carries ≤2 meaningful decimals (centi-unit quantization).
    */
  def trending(events: DataFrame, item: Column, tsMs: Column, value: Column,
               decayDays: Double, k: Int): DataFrame = {
    val e = events.select(item.as("item"),
      floor(tsMs.cast("long") / lit(86400000L)).cast("long").as("day"), value.as("value"))
    val maxDay = e.agg(max(col("day")).as("max_day"))
    e.crossJoin(broadcast(maxDay))
      .withColumn("vc", floor(col("value") * 100.0 + 0.5).cast("long"))
      .withColumn("qexp",
        floor(exp((col("day") - col("max_day")) / lit(decayDays)) * 1.0e8 + 0.5).cast("long"))
      .groupBy(col("item"))
      .agg(round(sum(col("vc") * col("qexp")) / 1.0e10, 4).as("score"), count(lit(1)).as("n"))
      .orderBy(col("score").desc, col("item"))
      .limit(k)
  }

  /** Bounded-hop min-distance reachability over a (src, dst) edge frame:
    * one row per (src, dst) pair connected by a directed path of 1 to
    * `maxHops` edges, with `hops` = the MINIMUM path length. The
    * variable-length-edge engine under [[matchPattern]] (`-[*1..k]->`).
    *
    * Scale shape: classic level-synchronous BFS on pairs — per level one
    * equi-join of the FRONTIER (pairs first reached last level) into the
    * edge frame keyed on the mid vertex, a pair-key distinct, and an
    * anti-join against the already-reached set, each checkpointed so the
    * plan stays level-sized. The per-level dedup is what keeps this
    * path-COUNT-free: frames are bounded by reachable pairs (≤ the
    * transitive closure truncated at k), never by the exponential number
    * of walks. maxHops is capped at 4 — a pattern edge is a short
    * template hop, not an unbounded traversal (reachClosure covers that).
    */
  def boundedReach(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 4,
      s"boundedReach supports 1-4 hops (got $maxHops)")
    val base = edges.select(col("src"), col("dst")).distinct().cp()
    expandFrontier(base, base.count(), 1L, maxHops)(
        (fresh, h) => fresh.withColumn("hops", lit(h))) { hop =>
      hop.frontier.select(col("src"), col("dst").as("m"))
        .join(base.select(col("src").as("m"), col("dst")), Seq("m"))
        .select(col("src"), col("dst")).distinct()
        .join(hop.visited.select(col("src"), col("dst")), Seq("src", "dst"),
          "left_anti")
    }
  }

  /** Pattern-match bindings over a (src, dst, w) adjacency — the
    * graph-DB query surface a serving store exposes (MATCH-style small
    * templates: paths, triangles, fans, cycles), generalized from the
    * motif census's hand-built joins. Each [[EdgePattern]] names its
    * endpoint VARIABLES and optionally constrains the edge (`pred` over
    * the edge frame's columns) and exports its weight (`keepW`).
    * Variables shared between template edges become equi-join keys; each
    * template edge must share at least one variable with the earlier
    * ones (connected patterns only — a disconnected edge would be a
    * cross product). `distinctVars` (the default) enforces injective
    * bindings: every newly bound variable filters ≠ against all earlier
    * ones AT BIND TIME, so the pruning happens inside the join pipeline,
    * not on the blown-up result.
    *
    * A template edge with `maxHops > 1` is a VARIABLE-LENGTH edge
    * (`-[*min..max]->`): it binds endpoint pairs connected by a directed
    * path of `minHops..maxHops` edges — each edge of the path passing
    * `pred` — via [[boundedReach]] (min-hop semantics, path-count-free),
    * exporting the hop distance under `keepHops`. Intermediate path
    * vertices are NOT pattern variables: they are never bound, so
    * injectivity does not constrain them (standard MATCH semantics).
    * Returns one row per binding with one column per variable plus the
    * kept weights / hop counts.
    *
    * Scale shape: template size is capped at 5 edges, so a match is at
    * most 4 equi-joins over the edge frame, each keyed on a bound
    * variable; per-edge `pred` filters run BEFORE the joins (candidate
    * streams shrink first), a var-length edge materializes only its
    * deduped reachability pairs, and every intermediate is
    * variable-bound-columns only, never payloads.
    */
  def matchPattern(edges: DataFrame, pattern: Seq[EdgePattern],
                   distinctVars: Boolean = true): DataFrame = {
    require(pattern.nonEmpty && pattern.size <= 5,
      s"matchPattern supports 1-5 edge templates (got ${pattern.size})")
    val base = edges.select(col("src"), col("dst"), col("w"))
    var acc: DataFrame = null
    var bound = List.empty[String]
    pattern.zipWithIndex.foreach { case (pe, i) =>
      require(pe.from != pe.to,
        s"pattern edge $i binds one variable to both endpoints")
      require(pe.minHops >= 1 && pe.maxHops >= pe.minHops,
        s"pattern edge $i has an empty hop range " +
          s"[${pe.minHops}..${pe.maxHops}]")
      require(pe.maxHops == 1 || pe.keepW.isEmpty,
        s"pattern edge $i is variable-length: a path has no single edge " +
          "weight — export keepHops instead")
      val e =
        if (pe.maxHops == 1)
          base.filter(pe.pred)
            .select(col("src").as("__f"), col("dst").as("__t"),
              col("w").as("__w"))
        else
          boundedReach(base.filter(pe.pred), pe.maxHops)
            .filter(col("hops") >= pe.minHops)
            .select(col("src").as("__f"), col("dst").as("__t"),
              col("hops").as("__w"))
      val exported = if (pe.maxHops == 1) pe.keepW else pe.keepHops
      if (acc == null) {
        val cols = Seq(col("__f").as(pe.from), col("__t").as(pe.to)) ++
          exported.map(n => col("__w").as(n))
        acc = e.select(cols: _*)
        if (distinctVars) acc = acc.filter(col(pe.from) =!= col(pe.to))
        bound = List(pe.from, pe.to)
      } else {
        val fB = bound.contains(pe.from)
        val tB = bound.contains(pe.to)
        require(fB || tB,
          s"pattern edge $i shares no variable with the earlier edges")
        var cond: Column = lit(true)
        if (fB) cond = cond && acc(pe.from) === e("__f")
        if (tB) cond = cond && acc(pe.to) === e("__t")
        var j = acc.join(e, cond)
        for ((v, nw) <- Seq(pe.from -> "__f", pe.to -> "__t")
             if !bound.contains(v)) {
          j = j.withColumn(v, col(nw))
          if (distinctVars)
            bound.foreach(b => j = j.filter(col(b) =!= col(v)))
          bound = bound :+ v
        }
        exported.foreach(n => j = j.withColumn(n, col("__w")))
        acc = j.drop("__f", "__t", "__w")
      }
    }
    acc
  }
}

/** One template edge of a [[GraphAlgebra.matchPattern]] query: endpoint
  * variable names, an optional predicate over the edge frame's columns
  * (e.g. `col("w") >= 3`), and an optional output name for the matched
  * edge's weight. `minHops`/`maxHops` > 1 make it a VARIABLE-LENGTH edge
  * (`-[*min..max]->`): it matches endpoint pairs connected by a directed
  * path of that many pred-passing edges (min-hop semantics) and exports
  * the hop distance under `keepHops` (keepW is meaningless for a path
  * and rejected).
  */
case class EdgePattern(from: String, to: String,
                       pred: Column = lit(true),
                       keepW: Option[String] = None,
                       minHops: Int = 1,
                       maxHops: Int = 1,
                       keepHops: Option[String] = None)
