package graft.ext

import graft.ops.Checkpoints.release
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for corpus curation. Web-crawl pipelines rank
  * pages by link structure to pick what to keep/crawl (PageRank, Brin &
  * Page '98; CommonCrawl publishes harmonic/PageRank host ranks for
  * exactly this use). North-star extension (SURVEY.md §2.C) — no
  * reference counterpart.
  *
  * The whole computation is FIXED-POINT INTEGER arithmetic: ranks are
  * longs scaled by 10^12, per-edge contributions are integer divisions,
  * and the damping multiply-divide is `(d_permille * x) / 1000` in longs.
  * Long sums are exact and associative, so results are bit-identical
  * under ANY partitioning, executor count, or external replay engine —
  * unlike double-based PageRank, whose shuffle-order-dependent float sums
  * drift between runs (the same reason the repo's aggregates use decimal
  * `xsum`). Max mass is the scale (10^12); `850 * mass` stays < 2^63.
  */
object Graph {

  /** Total rank mass: ranks are fractions of 1 scaled by this. */
  val RankScale = 1000000000000L

  /** Fixed-iteration PageRank over an edge list.
    *
    * Per iteration, with `R` the scaled rank map and `n` the node count:
    * each node with out-degree `g` sends `R(v) div g` along every
    * out-edge (multi-edges count multiply — multigraph semantics);
    * dangling mass `D = Σ R(v)` over out-degree-0 nodes is shared as
    * `D div n` to every node; and
    * `R'(v) = base + (d‰ · (inflow(v) + D div n)) div 1000` where
    * `base = ((scale div n) · (1000 − d‰)) div 1000`. Division remainders
    * are dropped (deterministic mass leak ≤ a few ulp of 10^-12 per node
    * per iteration — invisible at ranking granularity and the price of
    * exactness).
    *
    * Scale shape: one shuffle per iteration (the inflow aggregation,
    * map-side combined on `dst`), one broadcast-scalar reduce for the
    * dangling mass, and a broadcast hash join of ranks against the
    * out-degree table when degrees are few (AQE decides). Each
    * iteration's rank frame is `localCheckpoint`ed and the previous
    * round's RDD blocks explicitly released (same discipline as
    * [[Dedup.connectedComponentsDetailed]]) — without the checkpoint
    * every round's logical plan embeds all prior rounds, so analysis
    * cost grows superlinearly with the iteration count even though the
    * data is tiny. Driver state is two scalars (n, D) per iteration,
    * never a node vector.
    *
    * Returns `(node, rank)` — rank summing to ≈ `RankScale` over nodes.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int,
      dampingPermille: Int = 850,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    // Uniform PageRank IS personalized PageRank whose seed set is the
    // whole node universe: base = S div n to every node, dangling mass
    // shared div n, identical fixed-point arithmetic — one loop owns the
    // checkpoint/release discipline and the overflow-sensitive math
    // (GraphSpec's hand-computed longs pin the equivalence).
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    require(!nodes.isEmpty, "pageRank needs at least one edge")
    personalizedPageRank(e, nodes, iterations, dampingPermille)
  }

  /** Personalized (seed-restart) PageRank — the TrustRank shape (Gyöngyi
    * et al. 2004): teleport mass lands ONLY on the seed set, so rank
    * measures proximity to trusted/flagged pages instead of global
    * centrality; web curation uses it to propagate a small audited
    * whitelist (or spam blacklist) over the link graph. Identical
    * fixed-point integer arithmetic to [[pageRank]] — scale 10^12,
    * truncating division, damped multiply in longs — with two changes:
    * the restart term `base = ((S div |seeds|) · (1000−d‰)) div 1000`
    * is added to seed nodes only, and dangling mass is shared as
    * `D div |seeds|` across the seeds rather than all nodes. Bit-exact
    * under any partitioning; the gate's oracle unrolls the iterations.
    *
    * Same per-iteration shape as [[pageRank]] (one map-side-combined
    * inflow shuffle, one scalar dangling reduce, checkpointed ranks);
    * the seed set joins as a broadcast two-column frame. Seeds not in
    * the edge set still receive restart mass (they are part of the
    * node universe by definition); seed list size is a driver scalar.
    *
    * Returns `(node, rank)`.
    */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int,
      dampingPermille: Int = 850,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      s"dampingPermille must be in [0, 1000], got $dampingPermille")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint()
    val seedDf = seeds.select(col("node").cast("long").as("node")).distinct()
      .where(col("node").isNotNull)
      .withColumn("is_seed", lit(true))
      .localCheckpoint()
    val nSeeds = seedDf.count()
    require(nSeeds > 0, "personalizedPageRank needs at least one seed")
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .unionByName(seedDf.select(col("node")))
      .distinct()
      .join(broadcast(seedDf), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .localCheckpoint()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).localCheckpoint()
    val base = RankScale / nSeeds * (1000 - dampingPermille) / 1000
    // The node spine carries its static out-degree (NULL = dangling), so
    // each round's rank frame can (a) feed the inflow join without a
    // per-round ranks⋈outDeg join and (b) expose the NEXT round's dangling
    // mass as an `observe`d scalar on the SAME action that materializes
    // the round — one job per iteration instead of a separate dangling
    // aggregate job (the convergence-scalar fusion
    // [[Dedup.connectedComponentsDetailed]] uses). Identical fixed-point
    // arithmetic, so ranks are bit-identical to the two-job formulation.
    val nodesD = nodes
      .join(outDeg.select(col("src").as("node"), col("deg")), Seq("node"), "left")
      .localCheckpoint()
    import org.apache.spark.sql.Observation
    def ckWithDangling(df: DataFrame): (DataFrame, Long) = {
      val obs = Observation()
      val out = df
        .observe(obs, coalesce(sum(when(col("deg").isNull, col("rank"))), lit(0L)).as("d"))
        .localCheckpoint()
      (out, obs.get("d").asInstanceOf[Long])
    }
    // Rank starts as the restart distribution: S div |seeds| on seeds.
    var (ranks, dangling) = ckWithDangling(nodesD
      .withColumn("rank", when(col("is_seed"), lit(RankScale / nSeeds)).otherwise(lit(0L)))
      .select(col("node"), col("is_seed"), col("deg"), col("rank")))
    for (_ <- 1 to iterations) {
      val dangShare = dangling / nSeeds
      val inflow = e
        .join(ranks.where(col("deg").isNotNull).select(
          col("node"), expr("rank div deg").as("contrib")),
          e("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
      val (next, nextDangling) = ckWithDangling(nodesD
        .join(inflow, col("node") === col("dst"), "left")
        .select(col("node"), col("is_seed"), col("deg"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"($dampingPermille * (coalesce(inflow, 0L) + " +
              s"if(is_seed, ${dangShare}L, 0L))) div 1000").cast("long"))
            .as("rank")))
      release(ranks)
      ranks = next
      dangling = nextDangling
    }
    val out = ranks.select(col("node"), col("rank"))
    release(nodes)
    release(nodesD)
    release(outDeg)
    release(e)
    release(seedDf)
    out
  }

  /** Fixed-point integer HITS (Kleinberg '99): hub and authority scores
    * over an edge list, L1-normalized each half-step so scores are
    * fractions of [[RankScale]].
    *
    * Per iteration: `a_raw(v) = Σ h(u)` over in-edges `u→v` (multi-edges
    * count multiply), then `a(v) = (a_raw(v) · S) div Σ a_raw`; then
    * `h_raw(v) = Σ a(w)` over out-edges `v→w` and the same
    * normalization. The normalizing multiply runs in DECIMAL(38,0)
    * (`a_raw · 10^12` overflows a long when Σ h concentrates on a high
    * in-degree node) and `div` truncates back to a long — an external
    * replay does the identical op in 128-bit integers, so scores are
    * bit-exact across engines and partitionings, like [[pageRank]].
    * L1 (not the textbook L2) keeps the iteration transcendental-free:
    * normalization is a per-step scaling, so the score ORDERING matches
    * the power iteration's at every step; only the reported magnitudes
    * differ from an L2-normalized run.
    *
    * Scale shape: two shuffles per iteration (the in-edge and out-edge
    * sum aggregations, map-side combined), two scalar totals on the
    * driver, `localCheckpoint` + release per half-step exactly as in
    * [[pageRank]] so plan analysis stays O(1) per round.
    *
    * Returns `(node, hub, auth)`.
    */
  def hits(
      edges: DataFrame,
      iterations: Int,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "hits needs at least one edge")

    // One half-step: raw = Σ other(score) grouped on `groupSide` of the
    // edge, densified over all nodes, L1-normalized to RankScale.
    def halfStep(scores: DataFrame, joinSide: String, groupSide: String): DataFrame = {
      val raw = e.join(scores, col(joinSide) === col("node"))
        .groupBy(col(groupSide)).agg(sum(col("score")).as("raw"))
      // the L1 total rides the SAME action that materializes the dense
      // frame (observe-fused, one job) instead of a separate aggregate job
      val obs = org.apache.spark.sql.Observation()
      val dense = nodes.join(raw, col("node") === col(groupSide), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
        .observe(obs, coalesce(sum(col("raw")), lit(0L)).as("t"))
        .localCheckpoint()
      val total = obs.get("t").asInstanceOf[Long]
      require(total > 0, "hits: score mass vanished (graph has no 2-step paths)")
      val next = dense.select(col("node"),
        expr(s"CAST(raw AS DECIMAL(38,0)) * $RankScale div ${total}L").as("score"))
        .localCheckpoint()
      release(dense)
      next
    }

    var hub = nodes.withColumn("score", lit(RankScale / n)).localCheckpoint()
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      val authNext = halfStep(hub, joinSide = "src", groupSide = "dst")
      if (auth != null) release(auth)
      auth = authNext
      val hubNext = halfStep(auth, joinSide = "dst", groupSide = "src")
      release(hub)
      hub = hubNext
    }
    val out = hub.select(col("node"), col("score").as("hub"))
      .join(auth.select(col("node").as("anode"), col("score").as("auth")),
        col("node") === col("anode"))
      .select(col("node"), col("hub"), col("auth"))
    release(nodes)
    release(e)
    out
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected multigraph given as an edge list (self-loops dropped,
    * parallel edges collapsed). Web-graph curation uses the clustering
    * coefficient to separate organic link neighborhoods from link farms
    * (spam rings are near-cliques; isolated boilerplate links close no
    * triangles).
    *
    * Algorithm: degree-ordered edge orientation (Cohen 2009's MapReduce
    * scheme / the classic compact-forward ordering) — each undirected
    * edge {u,v} is oriented from the endpoint with the SMALLER
    * (degree, id) pair to the larger, which caps every node's
    * out-degree at O(√m). Wedges are the self-join of oriented edges on
    * their source (ordered pairs of out-neighbors), and a wedge (x, y)
    * closes iff the oriented edge x→y exists — each triangle is found
    * EXACTLY once, at its lowest-ordered corner. Total wedge count is
    * Σ C(outdeg, 2) ≤ O(m^1.5) regardless of degree skew: a celebrity
    * node with 10^6 neighbors contributes no wedges at all unless its
    * neighbors' degrees are higher still — the orientation is the skew
    * guard, no salting needed.
    *
    * Scale shape: canonicalize+distinct (one shuffle), two degree joins
    * (broadcast when |V| is small, sort-merge on node otherwise), the
    * wedge self-join on `src` (shuffle bounded by the orientation cap),
    * and one semi-style equi-join of wedges against oriented edges on
    * (x, y). Per-node counts are a map-side-combined hash agg over the
    * 3 corners of each found triangle.
    *
    * All outputs are integers (counts and a truncating-division permille
    * coefficient), so an external replay — e.g. DuckDB's ordered 3-way
    * self-join, an INDEPENDENT algorithm — is bit-exact.
    *
    * Returns `(node, deg, tri, lcc_permille)` where
    * `lcc_permille = (2000 · tri) div (deg · (deg − 1))` (0 when deg < 2).
    */
  def triangles(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    // Canonical undirected edges: u < v, loops dropped, multi-edges collapsed.
    val e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = e.select(col("u").as("node")).unionByName(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Orient each edge toward the larger (deg, id) endpoint.
    val keyed = e
      .join(deg.select(col("node").as("_nu"), col("deg").as("du")), col("u") === col("_nu"))
      .join(deg.select(col("node").as("_nv"), col("deg").as("dv")), col("v") === col("_nv"))
      .select(col("u"), col("v"),
        struct(col("du").as("d"), col("u").as("n")).as("ku"),
        struct(col("dv").as("d"), col("v").as("n")).as("kv"))
    val oriented = keyed.select(
      when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
      when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"),
      when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("kdst"))
    // Wedges: ordered out-neighbor pairs around each source.
    val w1 = oriented.select(col("src").as("c"), col("dst").as("x"), col("kdst").as("kx"))
    val w2 = oriented.select(col("src").as("c2"), col("dst").as("y"), col("kdst").as("ky"))
    val wedges = w1.join(w2, col("c") === col("c2") && col("kx") < col("ky"))
      .select(col("c"), col("x"), col("y"))
    // A wedge closes iff the oriented edge x→y exists (x precedes y in the
    // degree order by construction, so one probe direction suffices).
    val closing = oriented.select(col("src").as("x2"), col("dst").as("y2"))
    val tris = wedges.join(closing, col("x") === col("x2") && col("y") === col("y2"))
      .select(col("c"), col("x"), col("y"))
    val perNode = tris.select(col("c").as("node"))
      .unionByName(tris.select(col("x").as("node")))
      .unionByName(tris.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(perNode.withColumnRenamed("node", "_tn"), col("node") === col("_tn"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_permille",
        when(col("deg") >= 2, expr("(2000 * tri) div (deg * (deg - 1))")).otherwise(lit(0L)))
  }

  /** Multi-source BFS hop levels over an UNDIRECTED edge list: for every
    * node reachable from `seeds` (a frame with a `node` column), the
    * minimum hop count — level 0 is the seed set itself — capped at
    * `maxLevels`. The "how far is every user from the campaign's entry
    * pages" metric, and the exact-distance complement of
    * [[graft.ext.Dedup.connectedComponents]] (which answers only
    * WHETHER nodes connect, in O(log d) halving rounds; hop DISTANCE is
    * the objective here, so the wave must advance one hop per round —
    * rounds = min(eccentricity, maxLevels) is inherent, not a missed
    * optimization).
    *
    * Scale shape: per level, one frontier-vs-edges equi-join (the
    * frontier is only the newest wave, shrinking as the graph saturates)
    * and one anti-join against the visited set — both key-partitioned,
    * never node-count-sized on the driver. Every round's frames are
    * `localCheckpoint`ed with the prior round's RDD blocks explicitly
    * released, the [[pageRank]]/CC lineage discipline.
    *
    * All arithmetic is integer (levels are counters), so any engine
    * replays the result exactly — the gate's oracle is a recursive CTE.
    *
    * Returns `(node, level)` for reached nodes only.
    */
  def bfsLevels(
      edges: DataFrame,
      seeds: DataFrame,
      maxLevels: Int = 20,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    require(maxLevels >= 0, s"maxLevels must be >= 0, got $maxLevels")
    val sym = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .unionByName(edges.select(col(dstCol).cast("long").as("u"), col(srcCol).cast("long").as("v")))
      .where(col("u").isNotNull && col("v").isNotNull)
      .localCheckpoint()
    var visited = seeds.select(col("node").cast("long").as("node")).distinct()
      .withColumn("level", lit(0))
      .localCheckpoint()
    var frontier = visited.select(col("node"))
    // The checkpointed frame backing `frontier` when it is NOT `visited`
    // itself — tracked so each wave's RDD blocks are released exactly
    // once (releasing the frontier view on round 1 would free `visited`).
    var wave: DataFrame = null
    var lvl = 0
    var done = false
    while (!done && lvl < maxLevels) {
      lvl += 1
      val next = frontier.join(sym, col("node") === col("u"))
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("level", lit(lvl))
        .localCheckpoint()
      if (next.isEmpty) { release(next); done = true }
      else {
        val grown = visited.unionByName(next).localCheckpoint()
        release(visited)
        if (wave != null) release(wave)
        visited = grown
        wave = next
        frontier = next.select(col("node"))
      }
    }
    if (wave != null) release(wave)
    release(sym)
    visited
  }

  /** HyperLogLog registers (Flajolet et al. 2007) with an integer,
    * engine-replayable hash: distinct-cardinality sketching whose STATE
    * (not just its estimate) is bit-exact across engines and
    * partitionings — registers are max-aggregations of a pure per-row
    * function, so they are associative, idempotent under duplicates, and
    * mergeable across shards by `max` (the property that makes HLL the
    * 100 TB distinct-count workhorse: one pass, 2^p longs of state,
    * register-wise max to combine executors/days/tables).
    *
    * Hash: `xxhash64` folded to 32 bits by default — rank estimation
    * needs avalanche in the LOW bits (the geometric leading-zero law),
    * which a multiplicative hash does not provide on structured ids (its
    * low-discrepancy lattice is exactly what makes it good for
    * bucketing and bad for ranks: sequential ids give a 47%-biased
    * estimate). For cross-engine replay, pass
    * [[replayableHash]] (`(id · 2654435761) mod 2^32`, same id bound as
    * [[graft.ext.Datasets.permilleBucket]]: ids below ~3.46e9) — the
    * REGISTER ARITHMETIC (bucket split, binary-string bitlen rank, max)
    * is identical for any hash input and is what the gate pins; only
    * estimates want avalanche. Top `p` bits select the bucket; the
    * remaining `W = 32 − p` bits `w` give `rank = W + 1 − bitlen(w)`
    * (W+1 when w = 0), computed via the binary-string length —
    * `length(bin(w))` — which both Spark and DuckDB evaluate with no
    * leading zeros, keeping the rank integral and transcendental-free
    * (no float log2 at power-of-two boundaries).
    *
    * Returns one row per OCCUPIED bucket: `(bucket, max_rank)`.
    * [[hllEstimate]] turns registers into the cardinality estimate.
    */
  def hllRegisters(
      ids: DataFrame,
      idCol: String,
      p: Int = 12,
      hashCol: Option[org.apache.spark.sql.Column] = None
  ): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val W = 32 - p
    val h32 = hashCol.getOrElse(pmod(xxhash64(col(idCol)), lit(4294967296L)))
    val bucket = shiftright(h32, W)
    val w = h32.bitwiseAND(lit((1L << W) - 1))
    val rank = when(w === 0, lit(W + 1)).otherwise(lit(W + 1) - length(bin(w))).cast("long")
    ids.where(col(idCol).isNotNull)
      .select(bucket.as("bucket"), rank.as("rank"))
      .groupBy(col("bucket")).agg(max(col("rank")).as("max_rank"))
  }

  /** The engine-replayable 32-bit hash for [[hllRegisters]] gates:
    * `(id · 2654435761) mod 2^32`. Ids must stay below ~3.46e9
    * (`Long.MaxValue / 2654435761`) — pre-fold larger spaces, as
    * [[graft.ext.Datasets.permilleBucket]] documents.
    */
  def replayableHash(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(idCol.cast("long") * lit(2654435761L), lit(4294967296L))

  /** Cardinality estimate from [[hllRegisters]] output: the standard
    * bias-corrected harmonic mean `α_m · m² / Σ 2^(−M_j)` with
    * linear-counting fallback below 2.5·m when empty buckets remain
    * (Flajolet et al. 2007 §4; the float math happens HERE, after the
    * bit-exact register state — estimates are for humans, registers are
    * for gates and merges). Driver-side over ≤ 2^p rows by design.
    */
  def hllEstimate(registers: DataFrame, p: Int = 12): Double = {
    val m = 1 << p
    val present = registers.select(col("bucket"), col("max_rank")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val zeros = m - present.size
    val sumInv = present.values.map(r => math.pow(2.0, -r.toDouble)).sum + zeros.toDouble
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val raw = alpha * m.toDouble * m.toDouble / sumInv
    if (raw <= 2.5 * m && zeros > 0) m.toDouble * math.log(m.toDouble / zeros) else raw
  }

  /** k-core decomposition by synchronous peeling (Seidman 1983): delete
    * every node with degree < `k`, recompute degrees, repeat — after
    * enough rounds the survivors are exactly the k-core, the standard
    * web-graph screen for "densely embedded" pages (link farms and
    * isolated tails peel away; CommonCrawl-scale curation uses core
    * membership as a keep signal). A FIXED round count `rounds` keeps
    * the result a pure function of (edges, k, rounds) — replayable by an
    * unrolled oracle — and peeling converges monotonically, so extra
    * rounds past the fixpoint are no-ops, not changes.
    *
    * Per round: one map-side-combined degree aggregation + two semi
    * joins filtering the edge list (both keyed on node ids); the edge
    * frame is `localCheckpoint`ed per round with the prior round's
    * blocks released ([[pageRank]]'s discipline). Driver state: the
    * loop counter. Self-loops dropped; the graph is symmetrized, so
    * degree counts each neighbor once.
    *
    * Returns surviving `(node, deg)` — degrees measured within the core.
    */
  def kCore(
      edges: DataFrame,
      k: Int,
      rounds: Int,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val base = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    var e = base.unionByName(base.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("_d"))
        .where(col("_d") >= k)
        .select(col("u").as("_keep"))
      val next = e
        .join(keep, e("u") === col("_keep"), "left_semi")
        .join(keep, e("v") === col("_keep"), "left_semi")
        .localCheckpoint()
      release(e)
      e = next
    }
    val out = e.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    out
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for community
    * detection over an undirected graph — the cheap clustering pass web
    * curation runs to group mutually-linked hosts before per-community
    * caps or sampling. Labels start as node ids; each round every node
    * adopts the PLURALITY label among its neighbors, ties broken by the
    * SMALLEST label. Both the vote count and the tie-break are integer
    * comparisons, so (unlike the async textbook variant, whose result
    * depends on visit order) the fixed-round synchronous sweep is a pure
    * function of the edge set — bit-identical under any partitioning and
    * replayable by an unrolled-iteration oracle.
    *
    * Scale shape per round: one hash join of the (node → label) frame
    * against the symmetrized edge list (labels partition by node; AQE
    * broadcasts when the node count allows) and one map-side-combined
    * count aggregation on (node, candidate-label), followed by the
    * plurality argmin — a second aggregation on node carrying one
    * struct. Each round's label frame is `localCheckpoint`ed and the
    * prior round's blocks released ([[pageRank]]'s lineage discipline),
    * so plan analysis stays O(1) per round. Driver state: nothing but
    * the loop counter.
    *
    * Fixed iteration count, not convergence detection: LPA on bipartite
    * structures can 2-cycle forever, and the gate pins an exact round
    * count anyway. Callers wanting convergence wrap it with the
    * `observe`-scalar pattern used by connectedComponentsDetailed.
    *
    * Returns `(node, label)`.
    */
  def labelPropagation(
      edges: DataFrame,
      iterations: Int,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val sym = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    val both = sym.unionByName(sym.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint()
    var labels = both.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      val votes = both
        .join(labels, both("u") === labels("node"))
        .groupBy(both("v"), col("label"))
        .agg(count(lit(1)).as("_c"))
      // Plurality with smallest-label tie-break = lexicographic min of
      // (-count, label): one struct per node through the second agg.
      val next = votes
        .select(col("v").as("node"),
          struct((-col("_c")).as("nc"), col("label").as("lab")).as("_cand"))
        .groupBy(col("node"))
        .agg(min(col("_cand")).as("_w"))
        .select(col("node"), col("_w.lab").as("label"))
        .localCheckpoint()
      release(labels)
      labels = next
    }
    val out = labels.select(col("node"), col("label"))
    release(both)
    out
  }

  /** Deterministic fixed-length random walks over a DIRECTED edge list —
    * the sampling primitive under node2vec/DeepWalk-style graph
    * embeddings and link-graph spot-audits. One walk starts per seed
    * node; at step `s` a walk at node `c` moves to the out-neighbor at
    * index `(walk·1000003 + c·40503 + s·9973) mod outdeg(c)` in the
    * NEIGHBOR-SORTED adjacency — a pure function of (walk, node, step),
    * so the "random" choice needs no RNG state, is identical under any
    * partitioning/executor count, and replays exactly in another engine
    * (the gate's oracle recomputes the index arithmetic verbatim). Walks
    * reaching a node with no out-edges stop early. Operands must keep
    * `walk·1000003 + node·40503` inside a long — ids below ~9.2e12;
    * pre-fold larger id spaces as [[replayableHash]] documents.
    *
    * Scale shape per step: the frontier (one row per live walk) joins
    * the out-degree table to compute its index, then the adjacency list
    * on (node, index) — two hash joins whose build side is
    * walk-count-sized, with the corpus-sized adjacency and degree
    * frames checkpointed ONCE up front and reused every step. The
    * frontier is `localCheckpoint`ed per step ([[bfsLevels]]'s wave
    * discipline); emitted rows accumulate as a union of the per-step
    * frontiers — `steps+1` frames of ≤ |seeds| rows each, never a
    * driver collect.
    *
    * Returns `(walk_id, step, node)` — step 0 is the seed itself.
    */
  def randomWalks(
      edges: DataFrame,
      seeds: DataFrame,
      steps: Int,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    require(steps >= 0, s"steps must be >= 0, got $steps")
    val e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val adj = e
      .withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("u")).orderBy(col("v"))) - 1)
      .localCheckpoint()
    // deg keys under a distinct name: adj and outDeg share lineage (both
    // derive from e), so an unrenamed "u" would be ambiguous when the
    // frontier joins both in one plan.
    val outDeg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .select(col("u").as("_du"), col("deg")).localCheckpoint()
    var frontier = seeds.select(col("node").cast("long").as("node")).distinct()
      .select(col("node").as("walk_id"), lit(0L).as("step"), col("node"))
      .localCheckpoint()
    val trail = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    for (s <- 1 to steps) {
      val next = frontier
        .join(outDeg, col("node") === col("_du"))
        .withColumn("_idx",
          pmod(col("walk_id") * 1000003L + col("node") * 40503L + lit(s.toLong) * 9973L,
            col("deg")))
        .join(adj, col("node") === adj("u") && col("_idx") === adj("idx"))
        .select(col("walk_id"), lit(s.toLong).as("step"), col("v").as("node"))
        .localCheckpoint()
      // prior frontiers stay referenced by `trail` until the final union
      // is consumed, so blocks release only via the session's GC — walks
      // are seed-count-sized, not corpus-sized, by construction.
      trail += next
      frontier = next
      if (next.isEmpty) { release(adj); release(outDeg); return trail.reduce(_ unionByName _) }
    }
    release(adj)
    release(outDeg)
    trail.reduce(_ unionByName _)
  }
}
