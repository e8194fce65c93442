package graft.ext

import graft.ops.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash and n-gram Jaccard. North-star extensions beyond the reference's
  * CDC surface (SURVEY.md §2.C); algorithms are the standard public ones
  * (Broder '97 MinHash, Charikar '02 SimHash, banding LSH from Mining of
  * Massive Datasets ch.3).
  *
  * Scale design: sketches (MinHash, SimHash) are single-pass custom
  * expressions ([[graft.sql.MinHashSig]], [[graft.sql.SimHash64]]) — pure
  * map operations with no shuffle, one tight loop per document. (Two
  * rejected formulations, both measured: per-row higher-order-function
  * trees duplicate the shingle pipeline into every permutation — codegen
  * blowup, ~100× slower; explode → groupBy aggregation materializes
  * |docs|×|shingles| rows and updates numHashes agg buffers per row — ~3×
  * slower.) Candidate generation is band-bucket based (LSH), never an
  * O(n²) cross join, so the same plan runs at 100 TB: pair-comparison cost
  * is bounded by bucket collisions, not corpus size²; verification uses
  * the one-pass [[graft.sql.JaccardSim]] expression per candidate pair.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on the normalized-text fingerprint: one winner per
    * fingerprint (smallest `idCol`). `min_by(struct(*), id)` hash
    * aggregation — map-side partial combine means the shuffle carries one
    * candidate row per fingerprint per partition (a window formulation
    * would sort whole partitions). The canonical 100 TB exact-dedup plan.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cols = docs.columns
    // NULL text has no content to be a duplicate OF: give each such row a
    // per-id unique key so it passes through — a NULL fingerprint would
    // bucket EVERY null-text row into one group and silently delete all
    // but one (placeholder rows are data, not duplicates of each other).
    val fp = coalesce(
      TextAnalysis.fingerprint(col(textCol)),
      concat(lit("\u0000null:"), col(idCol).cast("string")))
    docs
      .groupBy(fp.as("_fp"))
      .agg(min_by(struct(cols.map(col).toIndexedSeq: _*), col(idCol)).as("_w"))
      .select(cols.map(c => col(s"_w.$c").as(c)).toIndexedSeq: _*)
  }

  // -------------------------------------------------------------- shingles

  /** Distinct lowercase whitespace tokens of a text column. */
  def tokenSet(text: Column): Column =
    array_distinct(TextAnalysis.tokens(text))

  /** Distinct word n-gram shingles (space-joined) — MinHash input; the
    * single-pass [[graft.sql.WordShingles]] expression. Texts shorter than
    * `n` tokens contribute their whole token string. Callers must have the
    * engine functions registered (every DataFrame-level op here does).
    */
  def wordShingles(text: Column, n: Int): Column =
    call_function("word_shingles", text, lit(n))

  // -------------------------------------------------------------- MinHash

  /** Per-document MinHash signatures: (id, signature array<bigint>) via the
    * single-pass [[graft.sql.MinHashSig]] expression — a pure map operation
    * with NO shuffle (the explode→groupBy formulation materialized
    * |docs|×|shingles| rows and updated `numHashes` agg buffers per row;
    * measured ~3× slower). sig_j = min over shingles of (a_j*h+b_j mod p);
    * p = 2^31-1, and empty docs get the `p` sentinel.
    */
  def minHashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 128,
      seed: Long = 42L,
      oph: Boolean = false
  ): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(docs.sparkSession)
    val fn = if (oph) "minhash_sig_oph" else "minhash_sig"
    // signature cost is O(shingles × numHashes) per row — spread a small
    // scan across cores so the map stage isn't bounded by split count
    Spread.acrossCores(docs).select(col(idCol).as("id"),
      call_function(fn,
        wordShingles(col(textCol), shingleSize), lit(numHashes), lit(seed)).as("signature"))
  }

  /** LSH band keys from a MinHash signature: `numBands` hashes, each over a
    * contiguous signature slice of `numHashes/numBands` rows. Two docs share
    * a band key iff that band of their signatures matches exactly.
    */
  def lshBandKeys(signature: Column, numHashes: Int, numBands: Int): Column = {
    val rows = numHashes / numBands
    array((0 until numBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(signature, b * rows + 1, rows).cast("array<string>"))).as("key"))
    }: _*)
  }

  /** Per-document MinHash+LSH summary: doc id, signature hash, band keys.
    * Deterministic, rows == input docs (correctness-gate friendly); the
    * `bands` column is the join key for candidate generation.
    */
  def minHashLsh(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 128,
      numBands: Int = 32
  ): DataFrame =
    minHashSignatures(docs, idCol, textCol, shingleSize, numHashes)
      .select(col("id").as(idCol),
        xxhash64(concat_ws(",", col("signature").cast("array<string>"))).as("sig_hash"),
        lshBandKeys(col("signature"), numHashes, numBands).as("bands"))

  /** Candidate near-duplicate pairs via LSH: explode band keys, self-join
    * per bucket (id_a < id_b), verify with exact Jaccard over shingle sets,
    * keep pairs ≥ `threshold`. The bucket join shuffles on (band, key) —
    * the distributed analog of the banding algorithm; no cross join at any
    * scale. Skew guard: buckets larger than `maxBucketSize` are dropped
    * (standard LSH practice — a giant bucket means a degenerate band).
    *
    * The shingle pipeline is deliberately RECOMPUTED on the banding branch
    * and each verify-join side rather than persisted: the shingle
    * expansion is corpus-sized, so materializing it (cache/checkpoint)
    * costs a corpus-scale write + executor storage at 100 TB, while the
    * recompute is a cheap codegen'd map over data already being scanned.
    * Callers that DO want one-scan behavior (small corpora, many reruns)
    * can pass a pre-persisted `docs`.
    */
  def nearDuplicatePairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 128,
      numBands: Int = 32,
      threshold: Double = 0.7,
      maxBucketSize: Int = 10000,
      oph: Boolean = false
  ): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(docs.sparkSession)
    val shingled = docs.select(col(idCol).as("id"), wordShingles(col(textCol), shingleSize).as("shingles"))
    nearDuplicatePairsFromSignatures(
      minHashSignatures(docs, idCol, textCol, shingleSize, numHashes, oph = oph),
      shingled, numHashes, numBands, threshold, maxBucketSize)
  }

  /** Signature-generation + banding parameters of a persisted MinHash
    * index ([[ModelStore.saveMinHashIndex]]): an increment matched
    * against stored signatures MUST be signed with the identical family
    * (hash count, shingle width, seed, OPH on/off) and banded the same
    * way, or the candidate recall silently collapses — persisting the
    * parameters WITH the signatures makes the reconstruction exact by
    * construction.
    */
  final case class MinHashParams(
      numHashes: Int, numBands: Int, shingleSize: Int, seed: Long, oph: Boolean)

  /** [[nearDuplicatePairs]] from PRE-COMPUTED signatures (`sigs`:
    * `(id, signature)` — e.g. a [[ModelStore]]-persisted index, so the
    * corpus signature pass is never re-run) and the shingle sets for
    * verification. Same banding, skew guard, candidate join and Jaccard
    * verify as the direct path — the direct path delegates here, so the
    * two cannot drift.
    */
  def nearDuplicatePairsFromSignatures(
      sigs: DataFrame,
      shingled: DataFrame,
      numHashes: Int = 128,
      numBands: Int = 32,
      threshold: Double = 0.7,
      maxBucketSize: Int = 10000
  ): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(sigs.sparkSession)
    // Skew guard via a count window over the bucket key: the window's
    // hash-partitioning on bk is exactly what the self-join below needs, so
    // the exchange is computed once (an anti-join guard would recompute the
    // whole MinHash pipeline a second time — measured slower).
    val banded = sigs
      .select(col("id"), explode(lshBandKeys(col("signature"), numHashes, numBands)).as("bk"))
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col("bk"))))
      .where(col("bucket_n") <= maxBucketSize)

    val candidates = banded.select(col("bk"), col("id").as("id_a"))
      .join(banded.select(col("bk"), col("id").as("id_b")), Seq("bk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    val jaccard = call_function("jaccard_sim", col("sh_a"), col("sh_b"))
    candidates
      .join(shingled.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard.as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** EXACT Jaccard-threshold similarity self-join via prefix filtering
    * (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): every pair with token-set Jaccard ≥ t/1000 is returned, NO
    * false negatives — the guarantee MinHash-LSH trades away. Use this
    * tier when recall must be provable (contamination audits, legal-hold
    * dedup); the LSH tier when a tunable miss rate buys a smaller join.
    *
    * Plan: one corpus scan tokenizes; document frequencies come from a
    * hash agg on token; each doc's tokens are ordered RAREST-FIRST by the
    * global (df, token) total order and only the first
    * `n − ceil(t·n) + 1` tokens (the prefix) are exploded into the
    * candidate join. The prefix-filter lemma (with the size filter
    * `t·max(n_a,n_b) ≤ 1000·min(n_a,n_b)`, which J ≥ t implies) says two
    * qualifying docs MUST share a prefix token, so the equi-join on
    * prefix tokens loses nothing; rarest-first ordering is the skew
    * guard — a stopword can only enter a prefix when a doc has nothing
    * rarer, so candidate fan-out concentrates on low-df tokens with few
    * C(df,2) pairs. Candidates are verified with one `array_intersect`
    * against the full ordered sets (integer counts, truncating-division
    * permille → engine-replayable; a brute-force cross join is the
    * independent oracle).
    *
    * Docs with empty token sets cannot reach any positive threshold and
    * are excluded (J(∅,∅) is undefined here, matching [[exact]]'s
    * NULL-passthrough stance: placeholder rows are data, not duplicates).
    *
    * Returns `(id_a, id_b, inter_size, union_size, jacc_permille)` with
    * `id_a < id_b` and `jacc_permille = (1000·inter) div union`.
    */
  def jaccardJoin(
      docs: DataFrame,
      thresholdPermille: Int = 700,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1, 1000], got $thresholdPermille")
    val t = thresholdPermille
    val docTok = docs.select(col(idCol).as("id"), explode(tokenSet(col(textCol))).as("tok"))
    val dfreq = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ordered = docTok.join(dfreq, Seq("tok"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("id"),
        transform(col("ord"), x => x.getField("tok")).as("toks"),
        size(col("ord")).cast("long").as("n"))
    // Prefix length L = n − ceil(t·n/1000) + 1, all-integer.
    val pref = ordered.select(col("id"), col("n"),
      explode(slice(col("toks"), lit(1),
        (col("n") - expr(s"($t * n + 999) div 1000") + 1).cast("int"))).as("tok"))
    val cand = pref.select(col("tok"), col("id").as("id_a"), col("n").as("n_a"))
      .join(pref.select(col("tok"), col("id").as("id_b"), col("n").as("n_b")), Seq("tok"))
      .where(col("id_a") < col("id_b") &&
        lit(t) * col("n_a") <= lit(1000) * col("n_b") &&
        lit(t) * col("n_b") <= lit(1000) * col("n_a"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sets = ordered.select(col("id"), col("toks"), col("n"))
    cand
      .join(sets.select(col("id").as("id_a"), col("toks").as("ta"), col("n").as("na")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("toks").as("tb"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter_size"),
        col("na"), col("nb"))
      .withColumn("union_size", col("na") + col("nb") - col("inter_size"))
      .where(lit(1000) * col("inter_size") >= lit(t) * col("union_size"))
      .select(col("id_a"), col("id_b"), col("inter_size"), col("union_size"),
        expr("(1000 * inter_size) div union_size").as("jacc_permille"))
  }

  /** EXACT containment-threshold join (Broder's asymmetric near-dup
    * relation): ordered pairs where `C(src, dst) = |S(src) ∩ S(dst)| /
    * |S(src)| ≥ t/1000` over distinct word `shingleSize`-gram sets.
    * Containment catches what symmetric Jaccard structurally misses — a
    * short document wholly quoted inside a long one has high C(short,
    * long) but low Jaccard (the union is dominated by the long side) —
    * the quote-inclusion / subset-duplicate case in corpus curation.
    *
    * Same prefix-filter machinery as [[jaccardJoin]], asymmetric form:
    * only the SOURCE side explodes a prefix. With shingles ordered
    * rarest-first by the global (df, shingle) total order, C(src, dst) ≥
    * t implies dst shares at least one of src's first
    * `n − ceil(t·n/1000) + 1` shingles (at most `n − ceil(t·n/1000)`
    * elements of src may miss dst), so joining src prefixes against the
    * FULL inverted shingle list loses nothing. No size filter applies —
    * containment imposes none on the dst side (that asymmetry is the
    * point). Skew guard as in jaccardJoin: a high-df shingle enters a
    * prefix only when a doc has nothing rarer, and 3-gram shingles make
    * even that rare. Verification is one `array_intersect` per candidate;
    * all-integer permille, engine-replayable.
    *
    * Returns `(src_id, dst_id, inter_size, src_size,
    * containment_permille)`, `src_id ≠ dst_id` (both directions of a
    * pair can appear — the relation is asymmetric), `containment_permille
    * = (1000·inter) div src_size`. Empty shingle sets are excluded
    * ([[exact]]'s NULL-passthrough stance).
    */
  def containmentJoin(
      docs: DataFrame,
      thresholdPermille: Int = 500,
      shingleSize: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1, 1000], got $thresholdPermille")
    val t = thresholdPermille
    val docSh = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(wordShingles(col(textCol), shingleSize)).as("sh"))
    val dfreq = docSh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // The per-doc ordered shingle index is consumed THREE ways (prefix
    // explode, dst-side inverted list, verify sets) — materialize it once
    // (same discipline as the CC adjacency, Dedup.scala edgesByV), so the
    // raw corpus is scanned only by the index build, not once per use.
    val ordered = docSh.join(dfreq, Seq("sh"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"))
      .select(col("id"),
        transform(col("ord"), x => x.getField("sh")).as("shs"),
        size(col("ord")).cast("long").as("n"))
      .localCheckpoint()
    val pref = ordered.select(col("id"), col("n"),
      explode(slice(col("shs"), lit(1),
        (col("n") - expr(s"($t * n + 999) div 1000") + 1).cast("int"))).as("sh"))
    // Inverted (sh, id) list re-derived from the materialized index, not
    // from a second corpus scan.
    val cand = pref.select(col("sh"), col("id").as("src_id"))
      .join(ordered.select(col("id").as("dst_id"), explode(col("shs")).as("sh"))
        .select(col("sh"), col("dst_id")), Seq("sh"))
      .where(col("src_id") =!= col("dst_id"))
      .select(col("src_id"), col("dst_id"))
      .distinct()
    cand
      .join(ordered.select(col("id").as("src_id"), col("shs").as("sa"), col("n").as("n_src")),
        Seq("src_id"))
      .join(ordered.select(col("id").as("dst_id"), col("shs").as("sb")), Seq("dst_id"))
      .select(col("src_id"), col("dst_id"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter_size"),
        col("n_src"))
      .where(lit(1000) * col("inter_size") >= lit(t) * col("n_src"))
      .select(col("src_id"), col("dst_id"), col("inter_size"),
        col("n_src").as("src_size"),
        expr("(1000 * inter_size) div n_src").as("containment_permille"))
  }

  // -------------------------------------------------------------- SimHash

  /** Per-document 64-bit SimHash: (id, simhash) via the single-pass
    * [[graft.sql.SimHash64]] expression — map-only, no shuffle. Near-dups
    * have small Hamming distance.
    */
  def simHashes(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(docs.sparkSession)
    // tokenize+hash per row dominates the scan — spread small inputs
    Spread.acrossCores(docs).select(col(idCol).as("id"),
      call_function("simhash64", tokenSet(col(textCol))).as("simhash"))
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs by block-permutation LSH: split each
    * 64-bit hash into 4 16-bit blocks; docs within Hamming distance ≤ 3
    * share at least one exact block (pigeonhole). Join per (block idx,
    * block value) — shuffle-bounded, no cross join.
    *
    * Skew guard: a block value shared by more than `maxBucketSize` docs
    * (e.g. >10k copies of one boilerplate page, or every empty doc
    * simhashing to 0) would make the within-bucket pairing quadratic in
    * that one hot bucket. Hot buckets degrade to LINEAR
    * representative-vs-rest pairing — the bucket's min-id doc is compared
    * against every other member — instead of being dropped outright, so
    * mass duplication (exactly the thing dedup exists to find) still
    * surfaces as rep→member pairs and duplicate GROUPS are recoverable by
    * connected components over the output; only member↔member edges
    * inside a hot bucket are elided. Both the count window and the rep
    * window reuse the join's own (block) exchange — same pattern as
    * [[nearDuplicatePairs]].
    */
  def simHashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text", maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    val sh = simHashes(docs, idCol, textCol)
    val w = Window.partitionBy(col("block"))
    val blocks = sh.select(
      col("id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("blk"), shiftright(col("simhash"), b * 16).bitwiseAND(0xffffL).as("blkval"))
      }: _*)).as("block"))
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("rep", min(struct(col("id"), col("simhash"))).over(w))
    val normal = blocks.where(col("bucket_n") <= maxBucketSize)
    val a = normal.select(col("block"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = normal.select(col("block"), col("id").as("id_b"), col("simhash").as("sh_b"))
    val allPairs = a.join(b, a("block") === b("block") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hammingDistance(col("sh_a"), col("sh_b")).as("hamming"))
    val hotPairs = blocks.where(col("bucket_n") > maxBucketSize && col("id") > col("rep.id"))
      .select(col("rep.id").as("id_a"), col("id").as("id_b"),
        hammingDistance(col("rep.simhash"), col("simhash")).as("hamming"))
    allPairs.unionByName(hotPairs)
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------- content-defined chunking (CDC)

  /** Content-defined chunk table over the token stream — the
    * storage-dedup primitive (LBFS/Rabin family): a chunk boundary falls
    * after token `i` wherever the rolling hash of the last `window`
    * tokens is ≡ 0 mod `divisor` (expected chunk length ≈ divisor), plus
    * a forced boundary at document end. Because boundaries depend only
    * on LOCAL content, an edit near the head of a page re-synchronizes
    * within ~`window` tokens and every later chunk hashes identically —
    * fixed-size blocks would shift all of them; that resync is what lets
    * a corpus pipeline share storage / detect partial-edit duplication
    * across crawl snapshots (pinned by spec).
    *
    * Everything is per-row columnar (transform/filter/aggregate over the
    * token array — no UDF, no shuffle): token hashes are the md5-derived
    * 60-bit value the KMV/classifier ops pin cross-engine; the window
    * hash folds them with `(acc·31 + h) mod 1e9+7` seeded from 0, so the
    * whole chunk table is engine-replayable (positions under `window`
    * fold the available prefix — deterministic, same both sides).
    *
    * Returns one row per chunk: `(idCol, chunk_no, chunk_start,
    * chunk_len, chunk_hash)` — 1-based token offsets, `chunk_hash` the
    * 60-bit hash of the space-joined chunk tokens. Empty/NULL texts
    * contribute no rows.
    */
  def contentChunks(
      docs: DataFrame,
      window: Int = 4,
      divisor: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val P = 1000000007L
    val toks = TextAnalysis.tokens(col(textCol))
    val hv60 = (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    // The per-row work below (md5 per token + nested higher-order folds)
    // is interpreted — higher-order functions are CodegenFallback — and
    // costs ~1000x the bytes scanned, so FILE-SPLIT parallelism is the
    // wrong unit: a compact parquet puts a whole corpus slice in one
    // split and strands the fold on one core. Spread small corpora across
    // the cluster first ([[Spread.acrossCores]] — size-guarded, so a
    // production-scale corpus that already plans more splits than cores
    // is NOT shuffled); the operator stays map-only afterwards.
    val base = Spread.acrossCores(docs.where(col(textCol).isNotNull)
      .select(col(idCol), col(textCol)))
      .select(col(idCol), toks.as("tk"))
      .where(size(col("tk")) > 0)
      .select(col(idCol), col("tk"), transform(col("tk"), t => hv60(t)).as("hv"))
    // Window hash at position i (1-based): fold hv[max(1, i-window+1)..i].
    // CLOSED FORM of the left fold `(acc*31 + h) mod P` seeded 0: absent
    // leading terms contribute 0 and a leading zero never changes the
    // fold ((0*31 + h1)*31 + h2 = h1*31 + h2), so
    //   wh_i = (Σ_{k=0..w-1} h(i-k) * 31^k) mod P,  h(j<1) := 0
    // is BIT-IDENTICAL to slicing the prefix and folding it — but runs
    // as w element_at + w multiply-adds per position with no per-position
    // slice allocation (the interpreted aggregate-over-slice form cost
    // ~5x more inside this CodegenFallback transform).
    // h is 60-bit, so reduce it mod P BEFORE the power multiply (Long
    // would overflow immediately otherwise); (acc*31 + h) ≡
    // (acc*31 + h mod P) mod P, so the reduction is exact.
    // Overflow discipline: each term is ≤ (P-1)^2 ≈ 1.0e18 ≈ 2^60. Up to 8
    // terms sum below Long.MaxValue (8·(P-1)^2 < 2^63) with no per-term
    // reduction — the measured fast path. For wider windows the running
    // sum is mod-reduced between terms (partial ≤ (P-1)^2 + P — safe for
    // ANY window), which is exact: (a + b) mod P = ((a mod P) + b) mod P.
    val pow31 = Array.iterate(1L, window)(p => p * 31L % P)
    val wh = transform(sequence(lit(1), size(col("tk"))), { i =>
      val terms = (0 until window).map { k =>
        val term = when(i - k >= 1,
          pmod(element_at(col("hv"), (i - k).cast("int")), lit(P))).otherwise(lit(0L))
        term * pow31(k)
      }
      val summed =
        if (window <= 8) terms.reduce(_ + _)
        else terms.reduce((a, b) => pmod(a, lit(P)) + b)
      pmod(summed, lit(P))
    })
    // Boundary positions: window-hash hits ∪ the forced end-of-doc.
    val bnds = array_union(
      filter(sequence(lit(1L), size(col("tk")).cast("long")),
        i => element_at(col("_wh"), i.cast("int")) % divisor === 0),
      array(size(col("tk")).cast("long")))
    // Chunk k spans (prevBoundary+1 .. boundary_k); tk rides through the
    // explode so the chunk hash computes inline — no re-join, no second
    // corpus pass.
    base
      .withColumn("_wh", wh)
      .withColumn("_b", array_sort(bnds))
      .select(col(idCol), col("tk"),
        posexplode(transform(sequence(lit(1), size(col("_b"))), k =>
          struct(
            when(k === 1, lit(0L)).otherwise(element_at(col("_b"), (k - 1).cast("int")))
              .as("prev"),
            element_at(col("_b"), k.cast("int")).as("end")))).as(Seq("_k", "c")))
      .select(col(idCol), (col("_k") + 1).cast("long").as("chunk_no"),
        (col("c.prev") + 1).as("chunk_start"),
        (col("c.end") - col("c.prev")).as("chunk_len"),
        hv60(concat_ws(" ", slice(col("tk"),
          (col("c.prev") + 1).cast("int"), (col("c.end") - col("c.prev")).cast("int"))))
          .as("chunk_hash"))
  }

  /** Cross-corpus chunk-level dedup summary over [[contentChunks]]:
    * which chunks recur, how often, in how many documents — the shared-
    * storage / partial-edit-duplication report. One hash agg with
    * map-side combine over the chunk table; linear in chunk count.
    */
  def chunkDedup(
      docs: DataFrame,
      window: Int = 4,
      divisor: Int = 16,
      minOccurrences: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    contentChunks(docs, window, divisor, idCol, textCol)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col("chunk_len")).as("chunk_len"))
      .where(col("n_occurrences") >= minOccurrences)

  // ---------------------------------------------------- line-level dedup

  /** Cross-document line deduplication — the C4/RefinedWeb boilerplate
    * cleanup: a line survives only in its FIRST occurrence across the
    * whole corpus (smallest (doc id, line position)); every later copy of
    * the same line (navigation chrome, cookie banners, footers) is
    * removed, and blank lines are dropped. Documents are reassembled from
    * their surviving lines in original order; a document whose every line
    * was boilerplate comes back with empty text.
    *
    * Scale shape: explode to one row per line, ONE hash aggregation keyed
    * on the line content to find each line's global first occurrence
    * (map-side combine carries one candidate per line per partition), an
    * equi-join back on (line, order key), and a per-document re-aggregation
    * — shuffles keyed on line text and doc id, cost linear in total line
    * count, no window over the whole corpus. The order key packs
    * (id, pos) into one long (pos < 2^20 lines per doc) so first-occurrence
    * is a single `min`.
    */
  def dedupLines(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    // First occurrence = min STRUCT (id, pos) — unbounded, unlike a packed
    // id<<20+pos long, where a document past 2^20 lines (or id ≥ 2^43)
    // would overflow into a FOREIGN document's ord space and corrupt
    // first-occurrence resolution both ways (web corpora do contain
    // million-line documents).
    val lines = docs
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .where(length(trim(col("line"))) > 0)
    val firsts = lines.groupBy(col("line"))
      .agg(min(struct(col("id"), col("pos"))).as("_first"))
      .select(col("line").as("first_line"),
        col("_first.id").as("first_id"), col("_first.pos").as("first_pos"))
    val kept = lines
      .join(firsts, col("line") === col("first_line") &&
        col("id") === col("first_id") && col("pos") === col("first_pos"))
      .select(col("id"), col("pos"), col("line"))
    kept
      .groupBy(col("id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))), s => s.getField("line")),
          "\n").as("clean_text"),
        count(lit(1)).as("kept_lines"))
      .join(docs.select(col(idCol).as("id")), Seq("id"), "right")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_lines"), lit(0L)).as("kept_lines"))
  }

  /** WITHIN-document line dedup — [[dedupLines]]' row-local sibling
    * (Dolma's paragraph-dedup-within-document pass; CCNet dedups
    * paragraphs per shard the same way before any corpus-level work):
    * each document keeps the FIRST occurrence of every non-blank line,
    * in order; blank lines drop (same hygiene rule as [[dedupLines]]).
    *
    * 100 TB shape: pure row-local column expressions — `array_distinct`
    * preserves first-occurrence order and runs on a hash set (linear in
    * lines), so the whole pass is map-only with ZERO shuffle, unlike the
    * corpus-level variant whose first-occurrence resolution is inherently
    * a global aggregation. Run this first: it shrinks the corpus-level
    * pass's explode for free. NULL text passes through as NULL.
    */
  def dedupLinesWithinDoc(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val kept = array_distinct(filter(split(col(textCol), "\n"),
      l => length(trim(l)) > 0))
    docs.select(col(idCol),
      array_join(kept, "\n").as("clean_text"),
      coalesce(size(kept), lit(0)).cast("long").as("kept_lines"))
  }

  /** Cross-document duplicated SUBSTRING spans, the char-gram formulation
    * of exact-substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better" — their suffix-array ExactSubstr
    * finds verbatim repeated passages that document-level MinHash misses:
    * licenses, boilerplate, quoted text). The suffix array is inherently
    * sequential; the distributed reformulation samples overlapping char
    * grams of length `gramLen` every `stride` chars, keeps grams seen in
    * ≥ 2 DISTINCT documents, and merges a document's surviving gram
    * occurrences into maximal spans (gaps-and-islands). A repeated passage
    * of length ≥ gramLen + stride − 1 is guaranteed to contribute at least
    * one sampled gram at matching alignment ONLY when it starts on a
    * stride boundary in both documents — stride trades recall for shuffle
    * volume exactly like the suffix-array work's minhash prefilter; the
    * gate pins the declared (sampled) semantics, not full suffix-array
    * recall.
    *
    * Returns `(doc_id, span_start, span_end)` — 0-based char offsets, end
    * exclusive — one row per maximal duplicated span, the input a caller
    * cuts or masks before training.
    *
    * Plan shape: gram generation is a codegen map (`sequence` + explode +
    * `substr` — no UDF); duplicate detection is one hash aggregation with
    * `min ≠ max` doc-id (partial-agg friendly, no countDistinct sketch);
    * the island merge windows per document ordered by position — the sort
    * key is (doc, pos), bounded by document length, never corpus-wide.
    * With `hashGrams` (the 100 TB path) the shuffle carries an 8-byte
    * xxhash64 key instead of `gramLen` chars — a ~gramLen× shuffle cut
    * whose only cost is the declared 2^-64-per-pair collision odds;
    * DupSpansSpec pins hashed ≡ raw-text spans on the test corpus.
    */
  def duplicateSpans(
      docs: DataFrame,
      gramLen: Int = 40,
      stride: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text",
      hashGrams: Boolean = true
  ): DataFrame = {
    require(gramLen > 0 && stride > 0 && stride <= gramLen,
      s"need 0 < stride <= gramLen for gapless span coverage (got gramLen=$gramLen stride=$stride)")
    val occ = gramOccurrences(docs, gramLen, stride, idCol, textCol, hashGrams)
    val dupKeys = occ.groupBy(col("key"))
      .agg(min(col("doc_id")).as("_mn"), max(col("doc_id")).as("_mx"))
      .where(col("_mn") =!= col("_mx"))
      .select(col("key"))
    mergeIslands(occ.join(dupKeys, Seq("key"), "left_semi"), gramLen)
  }

  /** The gram formula shared by [[duplicateSpans]] and
    * [[contaminatedSpans]] (one owner, like [[mergeIslands]] for the
    * island rule): stride-sampled `gramLen`-char substrings as
    * `(doc_id, pos, key)`, `key` the raw gram or its xxhash64.
    */
  private def gramOccurrences(
      df: DataFrame,
      gramLen: Int,
      stride: Int,
      idCol: String,
      textCol: String,
      hashGrams: Boolean
  ): DataFrame = Spread.acrossCores(df
    .where(length(col(textCol)) >= gramLen))
    .select(col(idCol).as("doc_id"),
      explode(sequence(lit(0L), (length(col(textCol)) - gramLen).cast("long"),
        lit(stride.toLong))).as("pos"),
      col(textCol).as("_t"))
    .withColumn("gram", col("_t").substr(col("pos").cast("int") + 1, lit(gramLen)))
    .select(col("doc_id"), col("pos"),
      (if (hashGrams) xxhash64(col("gram")) else col("gram")).as("key"))

  /** Gaps-and-islands merge of matched gram positions into covering
    * spans, per document: consecutive positions within `gramLen` of each
    * other fuse into one `(span_start, span_end)`. The per-doc window is
    * the only shuffle (keyed on doc_id); shared by [[duplicateSpans]]
    * and [[contaminatedSpans]] so the island rule has one owner.
    */
  private def mergeIslands(occ: DataFrame, gramLen: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    occ
      .withColumn("_prev", lag(col("pos"), 1).over(w))
      .withColumn("_brk",
        when(col("_prev").isNull || col("pos") > col("_prev") + gramLen, 1L).otherwise(0L))
      .withColumn("_island",
        sum(col("_brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("_island"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + gramLen).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** SPAN-LEVEL benchmark decontamination — where [[contaminationFlags]]
    * answers "is this doc contaminated?", this answers "WHICH BYTES":
    * every corpus position whose `gramLen`-char gram (sampled every
    * `stride` chars) appears ANYWHERE in the eval corpus is marked, and
    * marked positions fuse into covering spans ([[mergeIslands]]) ready
    * for surgical excision instead of whole-doc drops — the
    * train-time-leak remedy that keeps the rest of a long document.
    *
    * The eval side enumerates grams at EVERY offset (stride 1): the
    * corpus samples at `stride`, so eval coverage must be dense or an
    * unaligned copy could slip between sampled corpus grams. Eval sets
    * are benchmark-sized by definition — their distinct gram set
    * broadcasts; the corpus is touched by ONE map-only pass plus the
    * per-doc island window. No corpus-vs-corpus join at any size.
    *
    * `hashGrams` swaps raw grams for xxhash64 keys in the broadcast set
    * (the [[duplicateSpans]] scale path — ~5x smaller broadcast).
    * Returns `(doc_id, span_start, span_end)`.
    */
  def contaminatedSpans(
      docs: DataFrame,
      evalDocs: DataFrame,
      gramLen: Int = 40,
      stride: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text",
      hashGrams: Boolean = true
  ): DataFrame = {
    require(gramLen > 0 && stride > 0 && stride <= gramLen,
      s"need 0 < stride <= gramLen for gapless span coverage (got gramLen=$gramLen stride=$stride)")
    val evalKeys = boundedBroadcast(
      gramOccurrences(evalDocs, gramLen, stride = 1, idCol, textCol, hashGrams)
        .select(col("key")).distinct(),
      "contaminatedSpans eval gram set")
    val occ = gramOccurrences(docs, gramLen, stride, idCol, textCol, hashGrams)
      .join(evalKeys, Seq("key"), "left_semi")
    mergeIslands(occ, gramLen)
  }

  /** Eval-side broadcast cap for [[boundedBroadcast]]: 5M keys ≈ 40 MB
    * hashed / ~200 MB raw-gram — comfortably under Spark's broadcast
    * limits either way.
    */
  val MaxBroadcastEvalKeys = 5000000L

  /** "Benchmark-sized" is a contract, not a hope: `localCheckpoint` the
    * eval-derived frame ONCE (the count probe and the join then read the
    * same materialized blocks — no double derivation), and pin the
    * broadcast only when the count holds. Oversized sets fall back to
    * the planner's join choice with a WARN instead of forcing a
    * driver-OOM broadcast. Shared by every eval-vs-corpus membership
    * site ([[contaminatedSpans]], [[contaminationFlags]]) so the guard
    * covers the class, not one instance.
    */
  private def boundedBroadcast(df: DataFrame, what: String): DataFrame = {
    val pinned = df.localCheckpoint()
    val n = pinned.count() // served from the checkpoint blocks
    if (n <= MaxBroadcastEvalKeys) broadcast(pinned)
    else {
      logger.warn(s"$what has $n rows (> $MaxBroadcastEvalKeys) — not broadcasting; " +
        "the membership join will plan as a shuffle")
      pinned
    }
  }

  // ------------------------------------------- duplicate-group resolution

  /** Labels plus the number of propagation rounds the loop ran — the
    * round count is the observable for the O(log diameter) convergence
    * claim (a long-chain graph converging near `maxIters` means the
    * pointer-jumping stopped helping).
    */
  final case class CcResult(labels: DataFrame, rounds: Int)

  /** Connected components over a near-duplicate pair graph — the step
    * that turns PAIRS into duplicate GROUPS with one canonical document
    * each (the min id). Iterative min-label propagation in the
    * Shiloach-Vishkin style: each round every node takes the minimum
    * label among itself, its neighbors' labels, its current label's label
    * (path halving), and any label HOOKED onto it as a root by its tree
    * members; the candidate labels are then pointer-jumped once more
    * within the round. Hook + jump is what makes convergence
    * O(log diameter) regardless of id layout — neighbor propagation
    * alone crawls O(diameter) when the component min enters a chain
    * whose pointers face away (measured: a 10k path never converged in
    * 200 rounds; with hooking, 8-11). Each round is a handful of
    * label-sized equi-joins + hash aggregations keyed on node id; the
    * driver-side per-round scalar is only the label-sum convergence
    * test. Near-dup graphs are overwhelmingly tiny cliques and short
    * chains, so rounds ≈ 2-3 in practice; `maxIters` bounds pathological
    * graphs.
    *
    * Returns (id, component) for every node appearing in `pairs`;
    * component = min node id reachable.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIters: Int = 20
  ): DataFrame = {
    val res = connectedComponentsDetailed(pairs, aCol, bCol, maxIters)
    logger.info(s"connectedComponents converged in ${res.rounds} rounds (maxIters=$maxIters)")
    res.labels
  }

  /** Quality-aware dedup: per near-dup component keep the member with
    * the HIGHEST score (ties → lowest id) instead of [[exact]]'s /
    * the clean-corpus composition's min-id rule — the curation policy
    * real pipelines want ("of the k crawls of this page, keep the
    * longest / highest-quality one").
    *
    * `pairs` are candidate near-dup pairs (`id_a`, `id_b` — from
    * [[nearDuplicatePairs]], [[simHashPairs]], …); `score` is any
    * expression over `docs`' columns. Returns the surviving rows of
    * `docs` (docs in no component always survive).
    *
    * 100 TB shape: components via [[connectedComponents]] (bounded
    * rounds); the winner argmax is one hash agg over component MEMBERS
    * only (a tiny fraction of the corpus), the winner table is
    * component-count-sized (AQE broadcasts it), and the corpus is
    * touched by exactly one anti join. The full corpus is never
    * shuffled on a data-sized key.
    */
  def dedupKeepBest(
      docs: DataFrame,
      pairs: DataFrame,
      score: Column,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(!docs.columns.exists(Set("_s", "_keep")),
      "columns _s/_keep are reserved by dedupKeepBest")
    val comp = connectedComponents(pairs)
    val scored = docs.select(col(idCol).as("id"), score.as("_s"))
      .join(comp, "id")
    // argmax by (score desc, id asc): max of (score, -id) — ids are
    // required non-negative for the tie-break negation to order.
    val winners = scored.groupBy(col("comp"))
      .agg(max_by(col("id"), struct(col("_s"), -col("id"))).as("_keep"))
    val losers = scored
      .join(winners, "comp")
      .where(col("id") =!= col("_keep"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  private val logger = org.slf4j.LoggerFactory.getLogger("graft.ext.Dedup")

  /** [[connectedComponents]] plus the round count (see [[CcResult]]).
    *
    * Size-adaptive execution: a graph whose symmetric distinct edge set
    * fits `driverEdgeLimit` (default 100k edges ≈ 3.2 MB of longs) is
    * solved with a single collect + driver union-find — near-dup graphs
    * are usually tiny relative to their corpus, and 8 distributed rounds
    * of label joins on a 1k-edge graph is pure job-scheduling overhead
    * (measured: ~2 s of wall for sub-millisecond union-find work).
    * Larger graphs run the distributed hook+jump loop (rounds ≥ 1); the
    * driver path reports rounds = 0. Identical labels either way (both
    * compute min-reachable-id; a property test pins the equality), and
    * the 100 TB case always exceeds the limit, so the distributed loop —
    * whose convergence the q_cc_long_chain gate proves (it forces
    * driverEdgeLimit = 0) — is the scale path, not the exception.
    */
  def connectedComponentsDetailed(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIters: Int = 20,
      driverEdgeLimit: Long = 100000L
  ): CcResult = {
    import org.apache.spark.sql.Observation
    // Materialize the symmetric edge set ONCE and truncate its lineage:
    // without the checkpoint every round's plan embeds the full upstream
    // pair-generation plan (MinHash pipeline, band joins, …) k times over,
    // so analysis/optimization cost — and hence wall time — grows with the
    // round count even though the data is tiny. After the checkpoint each
    // round re-analyzes a leaf RDD scan.
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .localCheckpoint()
    val nEdges = edges.count() // served from the checkpoint cache
    if (nEdges == 0) return CcResult(edges.select(col("u").as("id"), col("u").as("comp")), 0)
    val keyType = edges.schema("u").dataType
    val integralKeys = keyType == org.apache.spark.sql.types.LongType ||
      keyType == org.apache.spark.sql.types.IntegerType ||
      keyType == org.apache.spark.sql.types.ShortType
    if (nEdges <= driverEdgeLimit && integralKeys) {
      // Driver fast path: one collect (bounded by driverEdgeLimit) + path
      // -compressed union-find with union-by-min, so the root of every set
      // IS the component minimum — same labels as the distributed loop.
      val collected = edges.collect().map(r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      // ITERATIVE find with path compression: union-by-min builds deep
      // parent chains on path-shaped graphs (up to ~driverEdgeLimit nodes),
      // and a recursive find would overflow a 1 MB driver thread stack
      val chain = scala.collection.mutable.ArrayBuffer.empty[Long]
      def find(x: Long): Long = {
        chain.clear()
        var cur = x
        var p = parent.getOrElseUpdate(cur, cur)
        while (p != cur) { chain += cur; cur = p; p = parent.getOrElseUpdate(cur, cur) }
        chain.foreach(parent(_) = cur)
        cur
      }
      collected.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      val labels = parent.keysIterator.map(x => (x, find(x))).toSeq.toDF("id", "comp")
        .select(col("id").cast(keyType).as("id"), col("comp").cast(keyType).as("comp"))
      Checkpoints.release(edges)
      return CcResult(labels, 0)
    }
    // Size the per-round shuffles to the graph, not the session default:
    // a near-dup graph is orders of magnitude smaller than the corpus, so
    // conf-width (32-200 partition) exchanges over a few thousand labels
    // are pure task-scheduling overhead. Hash-partitioning the edge side
    // on the join key lets EnsureRequirements run every in-loop join and
    // aggregation at `p` partitions; at 100 TB, p scales with |E|.
    val p = math.max(1, math.min(edges.rdd.getNumPartitions, (nEdges / 500000L + 1).toInt))
    val edgesByV = edges.repartition(p, col("v")).localCheckpoint()
    Checkpoints.release(edges) // superseded by edgesByV
    // Round 0 fused into initialization: every node starts at
    // min(self, direct neighbors) — one aggregation instead of a full
    // propagation round. Pair-graphs (components of size 2) are already
    // converged here; the loop then only confirms. Labels only ever
    // DECREASE (min-propagation), so the label sum is a strictly
    // decreasing potential until the fixpoint — the convergence test is a
    // scalar `observe`d during the SAME action that materializes the
    // round's labels (one job per round, no separate agg action).
    def checkpointWithSum(df: DataFrame): (DataFrame, BigDecimal) = {
      val obs = Observation()
      val out = df
        .observe(obs, sum(col("comp")).cast("decimal(38,0)").as("s"))
        .localCheckpoint()
      (out, BigDecimal(obs.get("s").asInstanceOf[java.math.BigDecimal]))
    }
    var (labels, prevSum) = checkpointWithSum(
      edgesByV.groupBy(col("u").as("id")).agg(min(col("v")).as("_mv"))
        .select(col("id"), least(col("id"), col("_mv")).as("comp")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val neighborMin = edgesByV
        .join(labels.withColumnRenamed("id", "v").withColumnRenamed("comp", "vcomp"), Seq("v"))
        .groupBy(col("u").as("id")).agg(min(col("vcomp")).as("ncomp"))
      // ROOT HOOKING (Shiloach-Vishkin): credit each node's neighbor-min to
      // the node's current LABEL (its tree root), not just the node itself.
      // Without it, a min label entering a chain whose pointers face the
      // other way (its local min at the far end) advances one hop per round
      // — O(diameter), not O(log): a planted 10k path with the global min
      // at the middle blows the round budget (q_cc_long_chain catches
      // this). Hooking lets the incoming label capture the segment's root
      // directly, and the jump then fans it to the whole subtree.
      val rootHook = neighborMin.join(labels, Seq("id"))
        .groupBy(col("comp").as("id")).agg(min(col("ncomp")).as("hcomp"))
      val jumped = labels
        .join(labels.select(col("id").as("comp"), col("comp").as("ccomp")), Seq("comp"), "left")
      val cand = jumped
        .join(neighborMin, Seq("id"), "left")
        .join(rootHook, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp")),
            coalesce(col("ccomp"), col("comp")),
            coalesce(col("hcomp"), col("comp"))).as("comp"))
      // Path-halving on the CANDIDATE labels within the same round
      // (cand[cand]): hooked roots relabel their whole subtree this round
      // instead of next. Measured on 10k paths (ascending / middle-min /
      // random-permuted ids): 8-11 rounds vs 15-19 without, vs
      // non-convergence at O(diameter) without hooking. The LAZY
      // localCheckpoint makes the round's single action compute cand once
      // and persist it for both sides of the jump self-join — without it
      // the full candidate plan (4 joins + 2 aggs) executes twice per
      // round, which measurably slowed the clique-graph dedup gates.
      val candCk = cand.localCheckpoint(false)
      val (next, sum) = checkpointWithSum(
        candCk
          .join(candCk.select(col("id").as("comp"), col("comp").as("jcomp")), Seq("comp"), "left")
          .select(col("id"), least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp")))
      Checkpoints.release(labels)
      Checkpoints.release(candCk)
      labels = next
      converged = sum == prevSum
      prevSum = sum
      it += 1
    }
    Checkpoints.release(edgesByV)
    CcResult(labels, it)
  }

  // ------------------------------------------------- decontamination

  /** Benchmark decontamination: flag corpus documents that share any word
    * `shingleSize`-gram with a benchmark/eval set — the standard
    * n-gram-overlap decontamination step of LLM training pipelines (e.g.
    * 13-gram overlap in GPT-3's appendix; RefinedWeb/FineWeb use similar).
    * Returns one row per corpus doc: distinct overlapping n-gram count and
    * the contaminated flag.
    *
    * Scale shape: the benchmark side is tiny by nature (an eval set), so
    * its distinct shingle set is BROADCAST — the corpus is scanned once
    * map-side, followed by one hash aggregation keyed on doc id (map-side
    * combine) and a broadcast left join back to the id spine. No
    * corpus-sized shuffle anywhere.
    */
  def contaminationFlags(
      docs: DataFrame,
      benchmark: DataFrame,
      shingleSize: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchTextCol: String = "text"
  ): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(docs.sparkSession)
    val ids = docs.select(col(idCol).as("id"))
    val dsh = docs.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), shingleSize)).as("g"))
    val bsh = boundedBroadcast(
      benchmark.select(explode(wordShingles(col(benchTextCol), shingleSize)).as("g")).distinct(),
      "contaminationFlags benchmark shingle set")
    val hits = dsh.join(bsh, Seq("g"))
      .groupBy(col("id")).agg(countDistinct(col("g")).as("n_overlaps"))
    ids.join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_overlaps"), lit(0L)).as("n_overlaps"),
        (coalesce(col("n_overlaps"), lit(0L)) > 0).as("contaminated"))
  }

  // --------------------------------------------- incremental near-dup

  /** Near-duplicate pairs between a (huge) `corpus` and a (small-by-
    * comparison) `incoming` batch — the daily-crawl primitive: "which new
    * documents already exist, possibly paraphrased, in everything stored
    * so far". Same MinHash/banding/Jaccard semantics as
    * [[nearDuplicatePairs]], but the CROSS-corpus shape allows a plan the
    * self-join cannot have: the increment's band keys broadcast, so the
    * corpus is touched by exactly TWO map-only passes and never shuffled.
    *
    *   1. incoming bands (|incoming|·numBands rows, the broadcast bound)
    *      are distinct-ed and broadcast; a corpus sketch pass keeps only
    *      corpus docs sharing ≥ 1 band with the increment (broadcast semi
    *      join — map-only). Survivors are increment-sized, not
    *      corpus-sized: everything after this point is small.
    *   2. skew guards on BOTH sides (an incoming-hot band is a tiny
    *      window; a corpus-hot band is a count window over SURVIVORS —
    *      one exchange of the survivor set, never the corpus, reused by
    *      the band equi-join that pairs survivors with broadcast
    *      incoming bands).
    *   3. exact-Jaccard verify re-reads the two pair sides' texts with a
    *      broadcast id semi join into each source (map-only on the corpus
    *      side, same recompute-don't-materialize stance as
    *      [[nearDuplicatePairs]]).
    *
    * Ids must be disjoint across the two frames (they identify rows in
    * the output). Returns (inc_id, corpus_id, jaccard ≥ threshold).
    */
  def incrementalNearDups(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 128,
      numBands: Int = 32,
      threshold: Double = 0.7,
      maxBucketSize: Int = 10000
  ): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(corpus.sparkSession)
    def bands(df: DataFrame): DataFrame =
      minHashSignatures(df, idCol, textCol, shingleSize, numHashes)
        .select(col("id"), explode(lshBandKeys(col("signature"), numHashes, numBands)).as("bk"))
    // Incoming-side guard first: a band key hot in the INCREMENT is
    // dropped before it can broadcast an amplifier.
    val incBands = bands(incoming)
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col("bk"))))
      .where(col("bucket_n") <= maxBucketSize)
      .select(col("id").as("inc_id"), col("bk"))
    // Corpus-side guard over survivors only: a count window keyed on bk —
    // the bands here are ALREADY known to touch the increment, so the
    // window's exchange moves the survivor set, never the corpus, and the
    // candidate join below needs that same (bk) partitioning, so the
    // exchange serves double duty (the nearDuplicatePairs pattern). An
    // aggregate-then-anti-join guard would consume `survivors` twice and
    // recompute the corpus band pass — one whole extra corpus scan.
    val survivors = bands(corpus)
      .join(broadcast(incBands.select("bk").distinct()), Seq("bk"), "leftsemi")
      .withColumn("_corpus_n", count(lit(1)).over(Window.partitionBy(col("bk"))))
      .where(col("_corpus_n") <= maxBucketSize)
    val candidates = survivors
      .join(broadcast(incBands), Seq("bk"))
      .select(col("inc_id"), col("id").as("corpus_id"))
      .distinct()
    val shingleOf: DataFrame => DataFrame = df =>
      df.select(col(idCol).as("id"), wordShingles(col(textCol), shingleSize).as("sh"))
    val jaccard = call_function("jaccard_sim", col("sh_i"), col("sh_c"))
    // Verify joins keep the corpus on the STREAM side of broadcast joins:
    // candidates ⋈ incoming shingles is increment × increment, and the
    // result (pairs + their incoming shingle sets, increment-bounded)
    // broadcasts into one more map-only corpus pass — the corpus is never
    // hash-partitioned anywhere in this operator. The semi join runs
    // BEFORE shingling, so the per-row shingle work is paid only for
    // candidate rows, not the whole corpus.
    val withInc = candidates.join(
      broadcast(shingleOf(incoming).select(col("id").as("inc_id"), col("sh").as("sh_i"))),
      Seq("inc_id"))
    val candCorpus = corpus.join(
      broadcast(candidates.select(col("corpus_id")).distinct()),
      col(idCol) === col("corpus_id"), "leftsemi")
    shingleOf(candCorpus).select(col("id").as("corpus_id"), col("sh").as("sh_c"))
      .join(broadcast(withInc), Seq("corpus_id"))
      .select(col("inc_id"), col("corpus_id"), jaccard.as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** [[incrementalNearDups]] with the CORPUS side served from a
    * PERSISTED signature index ([[ModelStore.saveMinHashIndex]]) — the
    * daily-crawl shape at 100 TB: the corpus's band pass reads the stored
    * `(id, signature)` table (numHashes longs per document — orders of
    * magnitude smaller than the text), and the Jaccard verify fetches
    * ONLY the candidate rows' texts (id-pushdown up to `maxPushdownIds`,
    * row-group-pruned; broadcast semi join beyond), so steady-state cost
    * is increment-proportional — no corpus-sized pass at all. Parameters
    * MUST be the index's own ([[MinHashParams]] — persisted with it) or
    * candidate recall silently collapses; the increment is signed here
    * with exactly those parameters. Same guards and verify joins as the
    * direct operator.
    */
  def incrementalNearDupsFromIndex(
      corpusSigs: DataFrame,
      corpus: DataFrame,
      incoming: DataFrame,
      params: MinHashParams,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7,
      maxBucketSize: Int = 10000,
      maxPushdownIds: Int = 10000
  ): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(corpus.sparkSession)
    def bandsOf(sigs: DataFrame): DataFrame =
      sigs.select(col("id"),
        explode(lshBandKeys(col("signature"), params.numHashes, params.numBands)).as("bk"))
    val incBands = bandsOf(minHashSignatures(incoming, idCol, textCol,
        params.shingleSize, params.numHashes, params.seed, params.oph))
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col("bk"))))
      .where(col("bucket_n") <= maxBucketSize)
      .select(col("id").as("inc_id"), col("bk"))
    val survivors = bandsOf(corpusSigs)
      .join(broadcast(incBands.select("bk").distinct()), Seq("bk"), "leftsemi")
      .withColumn("_corpus_n", count(lit(1)).over(Window.partitionBy(col("bk"))))
      .where(col("_corpus_n") <= maxBucketSize)
    val candidates = survivors
      .join(broadcast(incBands), Seq("bk"))
      .select(col("inc_id"), col("id").as("corpus_id"))
      .distinct()
    val shingleOf: DataFrame => DataFrame = df =>
      df.select(col(idCol).as("id"), wordShingles(col(textCol), params.shingleSize).as("sh"))
    val jaccard = call_function("jaccard_sim", col("sh_i"), col("sh_c"))
    // Candidate pairs are increment-bounded by design, so up to
    // `maxPushdownIds` they are collected ONCE (the limit bounds the
    // driver) and the verify plan is built from the local set: the
    // banding pipeline executes exactly once, and the candidate corpus
    // ids push into the text scan as a data-source In filter — parquet
    // row-group pruning makes the verify IO proportional to the
    // CANDIDATES, not the corpus, the daily-crawl steady state a
    // persisted index exists for. A pathological super-sized candidate
    // set falls back to the fully-lazy plan (broadcast semi-join verify:
    // one map-only corpus scan, still never a shuffle — the banding
    // subtree then executes once per consumer).
    val candLocal = candidates.limit(maxPushdownIds + 1).collect()
    val candFrame =
      if (candLocal.length <= maxPushdownIds)
        corpus.sparkSession.createDataFrame(
          java.util.Arrays.asList(candLocal: _*), candidates.schema)
      else candidates
    val withInc = candFrame.join(
      broadcast(shingleOf(incoming).select(col("id").as("inc_id"), col("sh").as("sh_i"))),
      Seq("inc_id"))
    val candCorpus =
      if (candLocal.length <= maxPushdownIds)
        corpus.where(col(idCol).isin(candLocal.map(_.get(1)).distinct.toIndexedSeq: _*))
      else corpus.join(broadcast(candidates.select(col("corpus_id")).distinct()),
        col(idCol) === col("corpus_id"), "leftsemi")
    shingleOf(candCorpus).select(col("id").as("corpus_id"), col("sh").as("sh_c"))
      .join(broadcast(withInc), Seq("corpus_id"))
      .select(col("inc_id"), col("corpus_id"), jaccard.as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The filter built on [[incrementalNearDups]]: incoming rows that are
    * NOT near-duplicates of any corpus document — what actually gets
    * appended by an incremental ingest. Anti join on the pair set; all
    * incoming columns pass through.
    */
  def dedupIncrement(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 128,
      numBands: Int = 32,
      threshold: Double = 0.7,
      maxBucketSize: Int = 10000
  ): DataFrame = {
    val dupIds = incrementalNearDups(corpus, incoming, idCol, textCol,
      shingleSize, numHashes, numBands, threshold, maxBucketSize)
      .select(col("inc_id").as(idCol)).distinct()
    incoming.join(broadcast(dupIds), Seq(idCol), "leftanti")
  }

  // -------------------------------------- exact membership vs a corpus

  /** Bloom membership index over a corpus's exact fingerprints
    * ([[TextAnalysis.fingerprint]] — whitespace/case-normalized md5): the
    * persistable "have I seen this document" state of a crawl pipeline.
    * Bits are sized for ~1 % false positives at capacity
    * ([[bloomBits]]: ~9.6 bits/item, ≤ 64 Mbit = 8 MiB with a LOUD cap),
    * INDEPENDENT of corpus size: one
    * map-side-combined aggregation over the corpus, mergeable bits, and
    * the result is a plain byte array callers can store beside the
    * corpus and reuse across increments — prior crawls are then never
    * re-scanned on the fast path. NULL-text rows carry no content and
    * are excluded (they are never duplicates of anything).
    */
  /** Bits for ~1 % FPP at `n` items: the standard optimum
    * m = −n·ln p / ln²2 ≈ 9.585 bits/item (8 bits/item — the old sizing —
    * measures ~2–3 %, not the documented 1 %). Capped at 64 Mbit (8 MiB:
    * the literal ships in every probing plan), and the cap is LOUD — past
    * ~7 M items the realized FPP degrades and the caller should shard the
    * index, not discover the drift in production.
    */
  private[graft] def bloomBits(expectedItems: Long): Long = {
    val optimal = math.ceil(expectedItems * 9.585059).toLong
    val cap = 67108864L
    if (optimal > cap) logger.warn(
      s"exactIndex: optimal bloom size for $expectedItems items is $optimal bits, " +
        s"capped at $cap (8 MiB) — realized FPP exceeds the ~1% design point " +
        s"(~${(expectedItems / 7000000.0).ceil.toInt} shards would restore it)")
    math.min(optimal, cap)
  }

  def exactIndex(
      corpus: DataFrame,
      textCol: String = "text",
      expectedItems: Long = 1000000L
  ): Array[Byte] = {
    graft.sql.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val fp = TextAnalysis.fingerprint(col(textCol))
    corpus.where(fp.isNotNull)
      .agg(call_function("bloom_agg", xxhash64(fp),
        lit(expectedItems), lit(bloomBits(expectedItems))).as("_bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** EXACT incremental dedup against a stored corpus: incoming rows whose
    * normalized fingerprint appears in `corpus` are dropped; the result
    * is exactly `incoming ANTI JOIN corpus ON fingerprint` (NULL-text
    * rows pass through — [[exact]]'s null contract), but the corpus is
    * never shuffled:
    *
    *  1. Bloom split (map-only over the increment): rows whose
    *     fingerprint misses the index are DEFINITELY new (no false
    *     negatives) and skip the join entirely. Survivors — true dups
    *     plus ~1 % false positives — are the only rows that need proof.
    *  2. Exact verify: suspect fingerprints (duplicate-mass + FP sized,
    *     not increment-sized — that is what the bloom buys over
    *     broadcasting all incoming keys) broadcast into ONE map-only
    *     semi-join pass over the corpus; matches anti-join back.
    *
    * Corpus cost per increment: zero passes when `index` is supplied
    * (the stored-state path) plus one map-only verify pass; never a
    * corpus shuffle. If suspects exceed `maxSuspects` the verify
    * degrades LOUDLY to a shuffle anti-join on fingerprints (still
    * exact, one corpus shuffle) rather than building an unbounded
    * broadcast.
    */
  def dedupExactIncrement(
      corpus: DataFrame,
      incoming: DataFrame,
      textCol: String = "text",
      expectedItems: Long = 1000000L,
      index: Option[Array[Byte]] = None,
      maxSuspects: Long = 10000000L
  ): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(corpus.sparkSession)
    val bf = index.getOrElse(exactIndex(corpus, textCol, expectedItems))
    val cols = incoming.columns
    val fpIn = TextAnalysis.fingerprint(col(textCol))
    // MATERIALIZE the marked increment (eager localCheckpoint): it is
    // consumed twice (suspect extraction + the final anti-join), and
    // without materialization each consumer re-fingerprints the increment
    // AND re-embeds the ≤8 MiB bloom literal in its own plan subtree. A
    // plain persist() would leak for the session's lifetime — the returned
    // frame depends on it and callers get no unpersist handle — whereas
    // checkpoint blocks are released when the frame is GC'd. The traded
    // recompute-on-executor-loss only covers the batch-sized increment,
    // never the corpus.
    val marked = incoming.withColumn("_fp", fpIn)
      .withColumn("_suspect", suspectPredicate(bf))
      .localCheckpoint()
    val suspectFps = marked.where(col("_suspect")).select(col("_fp")).distinct()
    val corpusFps = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("_fp"))
      .where(col("_fp").isNotNull)
    val nSuspects = suspectFps.count()
    val small = nSuspects <= maxSuspects
    if (!small) logger.warn(
      s"dedupExactIncrement: $nSuspects suspect fingerprints exceed " +
        s"maxSuspects=$maxSuspects — degrading to a shuffle semi/anti join " +
        "(still exact; one corpus shuffle)")
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val matched = corpusFps.join(hinted(suspectFps), Seq("_fp"), "left_semi").distinct()
    marked
      .join(hinted(matched.withColumn("_dup", lit(true))), Seq("_fp"), "left")
      .where(col("_dup").isNull)
      .select(cols.map(col).toIndexedSeq: _*)
  }

  /** THE suspect decision — one definition consumed by both
    * [[dedupExactIncrement]] (its broadcast-or-degrade sizing) and
    * [[exactIncrementSuspects]] (the bench observable): a drift between
    * two copies would silently mis-size the recorded count.
    * Expects a `_fp` fingerprint column.
    */
  private def suspectPredicate(index: Array[Byte]): Column =
    col("_fp").isNotNull &&
      call_function("bloom_might_contain", lit(index), xxhash64(col("_fp")))

  /** The suspect-fingerprint count behind [[dedupExactIncrement]] under a
    * given index — the sf1 work-count observable that sizes the verify
    * join's broadcast side (duplicate mass + bloom false positives, never
    * the increment): recorded next to the leg's wall-clock so a moved
    * ratio is adjudicable by counts (the ANN-counts rationale).
    */
  def exactIncrementSuspects(
      index: Array[Byte], incoming: DataFrame, textCol: String = "text"): Long = {
    graft.sql.GraftExtensions.ensureRegistered(incoming.sparkSession)
    incoming.withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
      .where(suspectPredicate(index))
      .select(col("_fp")).distinct().count()
  }

  /** The zero-corpus-IO membership filter: drop every bloom-positive row.
    * Probabilistic — ~1 % of genuinely-new rows (the index's false
    * positives) are lost, which a crawl pipeline trades for touching NO
    * prior data at all (the index bytes are the only state). Use
    * [[dedupExactIncrement]] when exactness matters.
    */
  def dedupExactIncrementFast(
      index: Array[Byte],
      incoming: DataFrame,
      textCol: String = "text"
  ): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(incoming.sparkSession)
    val fp = TextAnalysis.fingerprint(col(textCol))
    incoming.where(fp.isNull ||
      !call_function("bloom_might_contain", lit(index), xxhash64(fp)))
  }

  // ------------------------------------------------- edit-distance pairs

  /** All distinct strings reachable from `s` by deleting up to `d`
    * characters (SymSpell's deletion neighborhood, including `s` itself).
    * Pure higher-order-function columns — no UDF. Neighborhood size is
    * O(len^d), so this targets SHORT string columns (names, titles, URLs);
    * for document bodies use MinHash/SimHash instead.
    */
  def deletionVariants(s: Column, d: Int): Column = {
    require(d >= 1 && d <= 2, s"deletion distance must be 1 or 2, got $d")
    def deletesOf(v: Column): Column =
      transform(sequence(lit(1), length(v)),
        i => concat(v.substr(lit(1), i - 1), v.substr(i + 1, length(v) - i)))
    val d1 = array_distinct(concat(array(s), deletesOf(s)))
    if (d == 1) d1
    else array_distinct(flatten(transform(d1, v => concat(array(v), deletesOf(v)))))
  }

  /** All pairs of rows whose `strCol` values are within Levenshtein
    * distance `maxDist`, by SymSpell-style deletion-neighborhood blocking
    * (Garbe's symmetric delete algorithm, public): two strings within edit
    * distance d ≤ 2 necessarily share a member of their ≤d-deletion
    * neighborhoods (delete the ≤d edited positions from each side of the
    * alignment), so an equi-join on exploded variants finds every true
    * pair; exact `levenshtein` on the joined originals removes the false
    * positives blocking lets through.
    *
    * Scale shape: variant explosion is map-side and linear (len^maxDist
    * variants per row — short-string columns only); candidates come from a
    * variant-key equi-join, never a cross join. Skew guard: a variant
    * shared by more than `maxBucketSize` rows (e.g. millions of empty or
    * boilerplate-identical names collapsing to the same neighborhood)
    * would pair quadratically; those buckets are dropped, and mass-equal
    * strings still pair through their other, unshared variants or exact
    * dedup upstream. The count window reuses the join's own (vk) exchange
    * — same pattern as [[nearDuplicatePairs]].
    *
    * CONTRACT for duplicate-heavy corpora: pair enumeration over a
    * k-sized group of identical strings is Θ(k²) by problem definition —
    * measured at ~453 candidates/row when group size is ~300
    * (SCALE.md "the fuzzy-pairs knee"). Run [[exact]] (or group-by
    * key) FIRST and feed this operator the distinct residue; the skew
    * guard only kicks in at `maxBucketSize`-scale groups and degrades to
    * dropped buckets, not to a cheaper plan. The default cap (10 000)
    * sits below the measured knee (bench fuzzy_knee: 20k-row corpora
    * verify in ~12 s, 50k in ~156 s — quadratic duplicate mass), and the
    * DEGRADED semantics under the cap are oracle-pinned by
    * q_fuzzy_pairs_capped; dropped duplicate mass is observable via
    * [[fuzzyBlockingStats]] (`capped_buckets`), recorded per bench run.
    */
  /** A REPRESENTATIVE bounded probe sample: a content-hash filter (~1 %
    * of rows, uniform in the VALUE, partition-layout independent) bounded
    * by a limit — a bare `limit(n)` samples a first-partitions PREFIX, so
    * on ordered inputs (short names first, documents sorted by size) the
    * probes below would read only the benign head and wave the
    * pathological tail through. Corpora too small for the 1/101 filter to
    * hit fall back to the prefix (at that size the prefix IS the corpus).
    */
  private def probeSample(df: DataFrame, strCol: String): DataFrame = {
    val sampled = df.where(pmod(xxhash64(col(strCol)), lit(101)) === 0).limit(10000)
    if (sampled.head(1).nonEmpty) sampled else df.limit(10000)
  }

  def fuzzyPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      strCol: String = "text",
      maxDist: Int = 1,
      maxBucketSize: Int = 10000,
      maxAvgLen: Int = 64,
      maxSampleGroup: Int = 1000
  ): DataFrame = {
    // Fail fast on long-string columns: the deletion neighborhood is
    // O(len^maxDist) per ROW, so pointing this at document bodies (the
    // `text` default exists for the short-title/name/URL case) explodes
    // into millions of variants before the join even starts. Probe a
    // bounded REPRESENTATIVE sample ([[probeSample]] — hash-filtered, so
    // ordered inputs cannot hide the tail) and
    // refuse loudly instead of running the quadratic-ish plan; callers
    // with genuinely long short-ish strings can raise the cap, and
    // maxAvgLen <= 0 disables the probe for the caller who has measured.
    // Duplicate-mass probe, enforcing the companion contract: pair
    // enumeration over a k-sized group of IDENTICAL strings is Θ(k²) by
    // problem definition (SCALE.md "the fuzzy-pairs knee"), so a corpus
    // whose sampled largest exact group exceeds `maxSampleGroup` fails
    // fast pointing at Dedup.exact instead of silently running a
    // quadratic-in-group-size plan. Bounded representative sample
    // ([[probeSample]]); <= 0 disables either guard for the caller who
    // has measured. BOTH guards share ONE sample and ONE fused
    // aggregation (r22): group by the string value, then max(group
    // count) for the mass guard and Σ(count·len)/Σ(count) — identically
    // avg(length) over the same non-null rows — for the length guard;
    // previously each guard paid its own sample head(1) + aggregate
    // (4 driver actions per call, ~0.3 s of every fuzzy gate's build).
    if (maxAvgLen > 0 || maxSampleGroup > 0) {
      val probe = probeSample(df, strCol)
        .select(col(strCol).as("s")).where(col("s").isNotNull)
        .groupBy(col("s")).agg(count(lit(1)).as("c"))
        .agg(max(col("c")), sum(col("c") * length(col("s"))), sum(col("c")))
        .first()
      if (maxAvgLen > 0) {
        val avgLen = if (probe.isNullAt(1) || probe.isNullAt(2) || probe.getLong(2) == 0L) 0.0
          else probe.getLong(1).toDouble / probe.getLong(2)
        require(avgLen <= maxAvgLen,
          f"fuzzyPairs: avg length of '$strCol' is $avgLen%.1f > maxAvgLen=$maxAvgLen. " +
            s"The O(len^$maxDist) deletion neighborhood is for SHORT string columns " +
            "(names, titles, URLs); for document bodies use minHash/simHash near-dup " +
            "instead, or raise maxAvgLen explicitly if the column really is this wide.")
      }
      if (maxSampleGroup > 0) {
        val biggest = if (probe.isNullAt(0)) 0L else probe.getLong(0)
        require(biggest <= maxSampleGroup,
          s"fuzzyPairs: a sampled exact-duplicate group of '$strCol' has $biggest rows " +
            s"(> maxSampleGroup=$maxSampleGroup). Identical strings pair quadratically in " +
            "group size — run Dedup.exact (or a group-by on the string) FIRST and feed " +
            "fuzzyPairs the distinct residue; raise or disable maxSampleGroup only if " +
            "enumerating mass-identical pairs is genuinely intended.")
      }
    }
    val base = df.select(col(idCol).as("id"), col(strCol).as("s")).where(col("s").isNotNull)
    val candidates = fuzzyCandidates(base, maxDist, maxBucketSize)
    candidates
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      // threshold form short-circuits the DP once the distance provably
      // exceeds maxDist (returns -1) — on long strings the verify cost
      // drops from O(len²) to O(len·maxDist) per candidate pair
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b"), maxDist).as("dist"))
      .where(col("dist") >= 0)
  }

  /** The SymSpell blocking stage alone: distinct candidate id pairs that
    * share a deletion variant (hot variants above `maxBucketSize` dropped,
    * as in [[fuzzyPairs]]).
    */
  private def fuzzyCandidates(base: DataFrame, maxDist: Int, maxBucketSize: Int): DataFrame = {
    // the O(len^maxDist) variant explosion is the dominant map stage —
    // spread a small corpus across cores before it
    val variants = Spread.acrossCores(base)
      .select(col("id"), explode(deletionVariants(col("s"), maxDist)).as("vk"))
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col("vk"))))
      .where(col("bucket_n") <= maxBucketSize)
    variants.select(col("vk"), col("id").as("id_a"))
      .join(variants.select(col("vk"), col("id").as("id_b")), Seq("vk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Blocking-stage observables of [[nearDuplicatePairs]]:
    * `(candidatePairs, cappedBuckets)` — the distinct candidate count is
    * the verify-join's true cost driver (emitted pairs only count
    * matches above the threshold), `cappedBuckets` the band buckets the
    * `maxBucketSize` skew guard dropped. Recorded in the bench's sf1
    * block so a wall-clock outlier is attributable: flat counts name
    * host noise, exploding counts name real work growth.
    */
  def nearDupBlockingStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 128,
      numBands: Int = 32,
      maxBucketSize: Int = 10000,
      oph: Boolean = false
  ): (Long, Long) = {
    graft.sql.GraftExtensions.ensureRegistered(docs.sparkSession)
    val banded = minHashSignatures(docs, idCol, textCol, shingleSize, numHashes, oph = oph)
      .select(col("id"), explode(lshBandKeys(col("signature"), numHashes, numBands)).as("bk"))
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col("bk"))))
      .cache()
    try {
      val capped = banded.where(col("bucket_n") > maxBucketSize)
        .select("bk").distinct().count()
      val ok = banded.where(col("bucket_n") <= maxBucketSize)
      val candidates = ok.select(col("bk"), col("id").as("id_a"))
        .join(ok.select(col("bk"), col("id").as("id_b")), Seq("bk"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
      (candidates, capped)
    } finally banded.unpersist()
  }

  /** Blocking-stage observables of [[incrementalNearDups]]:
    * `(candidatePairs, cappedIncrementBuckets, cappedCorpusBuckets)` —
    * the same blocking the operator runs (increment-side guard first,
    * corpus guard over band-survivors only), counted instead of
    * verified. Same attribution purpose as [[nearDupBlockingStats]].
    */
  def incrementalBlockingStats(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 128,
      numBands: Int = 32,
      maxBucketSize: Int = 10000
  ): (Long, Long, Long) = {
    graft.sql.GraftExtensions.ensureRegistered(corpus.sparkSession)
    def bands(df: DataFrame): DataFrame =
      minHashSignatures(df, idCol, textCol, shingleSize, numHashes)
        .select(col("id"), explode(lshBandKeys(col("signature"), numHashes, numBands)).as("bk"))
    val incAll = bands(incoming)
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col("bk"))))
      .cache()
    try {
      val cappedInc = incAll.where(col("bucket_n") > maxBucketSize)
        .select("bk").distinct().count()
      val incBands = incAll.where(col("bucket_n") <= maxBucketSize)
        .select(col("id").as("inc_id"), col("bk"))
      val survivorsAll = bands(corpus)
        .join(broadcast(incBands.select("bk").distinct()), Seq("bk"), "leftsemi")
        .withColumn("_corpus_n", count(lit(1)).over(Window.partitionBy(col("bk"))))
        .cache()
      try {
        val cappedCorpus = survivorsAll.where(col("_corpus_n") > maxBucketSize)
          .select("bk").distinct().count()
        val candidates = survivorsAll.where(col("_corpus_n") <= maxBucketSize)
          .join(broadcast(incBands), Seq("bk"))
          .select(col("inc_id"), col("id").as("corpus_id"))
          .distinct()
          .count()
        (candidates, cappedInc, cappedCorpus)
      } finally survivorsAll.unpersist()
    } finally incAll.unpersist()
  }

  /** Blocking-stage observables of [[fuzzyPairs]] for knee measurements:
    * `(candidatePairs, cappedBuckets)` — the distinct candidate count is
    * what drives the verify cost (the emitted pair count only reflects
    * true matches), and `cappedBuckets` counts deletion-variant buckets
    * the `maxBucketSize` skew guard dropped (its engagement point).
    */
  def fuzzyBlockingStats(
      df: DataFrame,
      idCol: String = "doc_id",
      strCol: String = "text",
      maxDist: Int = 1,
      maxBucketSize: Int = 10000
  ): (Long, Long) = {
    // One cached variant explosion serves both observables (exploding
    // twice would double the most expensive map-side stage); the join's
    // skew filter comes from the same per-vk counts as the capped tally.
    val base = df.select(col(idCol).as("id"), col(strCol).as("s")).where(col("s").isNotNull)
    val variants = Spread.acrossCores(base)
      .select(col("id"), explode(deletionVariants(col("s"), maxDist)).as("vk"))
      .cache()
    try {
      val counts = variants.groupBy(col("vk")).agg(count(lit(1)).as("n"))
      val capped = counts.where(col("n") > maxBucketSize).count()
      val ok = variants.join(counts.where(col("n") <= maxBucketSize).select("vk"), Seq("vk"))
      val candidates = ok.select(col("vk"), col("id").as("id_a"))
        .join(ok.select(col("vk"), col("id").as("id_b")), Seq("vk"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
      (candidates, capped)
    } finally variants.unpersist()
  }

  // ------------------------------------------ sorted-neighborhood blocking

  /** Global 1-based rank in `(keyCol, idCol)` lexicographic order,
    * distributed: quantile range boundaries on an order-preserving
    * 8-byte packing of the (ASCII) key split the frame into balanced
    * contiguous ranges, per-range counts give driver offsets (≤
    * numRanges rows collected), and a per-range row_number window
    * finishes the rank — the [[Datasets.prefixSum]] shape with a
    * composite string ordering. The key must be ASCII (the packing
    * preserves UTF-8 binary order only below 0x80); sanitize first, as
    * [[sortedNeighborhoodPairs]] does.
    */
  private[graft] def lexRank(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      numRanges: Int = 64
  ): DataFrame = {
    // Order-preserving pack of the first 8 chars: 8 bit-lanes, shorter
    // keys zero-padded — lexicographic on ASCII == numeric on the pack.
    val packed = (0 until 8).map { i =>
      coalesce(ascii(substring(col(keyCol), i + 1, 1)), lit(0)).cast("long") * lit(1L << (8 * (7 - i)))
    }.reduce(_ + _)
    val withPk = df.withColumn("_pk", packed)
    val interior = Datasets.quantileBoundaries(withPk, "_pk", numRanges)
    val ranged = withPk.withColumn("_rg",
      if (interior.isEmpty) lit(0)
      else size(filter(typedLit(interior.toSeq), b => col("_pk") >= b)))
    val counts = ranged.groupBy(col("_rg")).agg(count(lit(1)).as("_t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _))
    val spark = df.sparkSession
    import spark.implicits._
    val offsetsDf = offsets.toSeq.toDF("_rg", "_off")
    val w = Window.partitionBy(col("_rg")).orderBy(col(keyCol), col(idCol))
    ranged.join(broadcast(offsetsDf), Seq("_rg"))
      .withColumn("_rank", col("_off") + row_number().over(w))
      .drop("_pk", "_rg", "_off")
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) with an
    * edit-distance verify: sort the corpus by a sanitized blocking key,
    * slide a window of `windowSize` ranks, verify every in-window pair
    * with thresholded levenshtein ≤ `maxDist`. The classic
    * entity-resolution candidate generator for records that DIFFER AT
    * THE TAIL (addresses, names, titles with suffix noise) — the
    * complement of the deletion-neighborhood ([[fuzzyPairs]]: short
    * strings, any edit position) and MinHash ([[nearDupPairs]]: long
    * docs, bag-of-shingles) blockings.
    *
    * `keyExpr` must produce an ASCII-only key (for [[lexRank]]'s
    * order-preserving pack); the default lowercases and strips to
    * `[a-z0-9 ]` before truncating — replayable in any engine.
    *
    * Scale shape: candidates are O(n · windowSize) by construction, not
    * O(n²): the rank is distributed ([[lexRank]]), blocks of
    * `windowSize` consecutive ranks make in-window pairs an equi-join
    * of each block with itself and its successor (a rank difference
    * `0 < Δ < w` spans at most two `w`-blocks), and the verify is the
    * thresholded O(len·maxDist) levenshtein. A hot blocking key (many
    * identical keys) degrades only its own neighborhood, bounded by
    * `windowSize`, never a quadratic bucket.
    *
    * Returns `(id_a, id_b, dist)` with `id_a < id_b` in rank order.
    */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      strCol: String = "text",
      keyLen: Int = 16,
      windowSize: Int = 10,
      maxDist: Int = 5,
      numRanges: Int = 64
  ): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    require(maxDist >= 0 && keyLen >= 1, s"bad maxDist=$maxDist / keyLen=$keyLen")
    val keyed = df.where(col(strCol).isNotNull)
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("_key",
        substring(regexp_replace(lower(col("s")), "[^a-z0-9 ]", ""), 1, keyLen))
    val ranked = lexRank(keyed, "_key", "id", numRanges)
      .withColumn("_blk", expr(s"(_rank - 1) div $windowSize"))
      .select(col("id"), col("s"), col("_rank"), col("_blk"))
    // A-side probes its own block and the next one; B-side keyed by block.
    val aSide = ranked
      .select(col("id").as("id_a"), col("s").as("s_a"), col("_rank").as("_ra"),
        explode(array(col("_blk"), col("_blk") + 1)).as("_jb"))
    val bSide = ranked
      .select(col("id").as("id_b"), col("s").as("s_b"), col("_rank").as("_rb"), col("_blk").as("_jb"))
    // Each qualifying pair joins on exactly one block key (b's own), so
    // the output is duplicate-free by construction — no distinct needed.
    aSide.join(bSide, Seq("_jb"))
      .where(col("_rb") > col("_ra") && col("_rb") - col("_ra") < windowSize)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b"), maxDist).as("dist"))
      .where(col("dist") >= 0)
  }
}
