package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language identification and document
  * fingerprinting. No reference counterpart (the reference is a CDC engine,
  * SURVEY.md §2.C) — these extend the engine per the north-star scope.
  *
  * Everything here is built from `org.apache.spark.sql.functions` columnar
  * expressions (whole-stage-codegen friendly, no UDFs), so each operator
  * distributes across executors with no shuffle: they are per-row map
  * transforms that scale linearly to 100 TB inputs.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword token estimate: word chunks + standalone punctuation,
    * the usual pre-tokenization regex shape of BPE tokenizers.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0)))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
          length(text).cast("double"))

  /** Common-English stopword set used by the quality heuristic. Public
    * knowledge (standard IR stopword list head).
    */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "this", "by", "at", "be", "are")

  /** Fraction of whitespace tokens (lowercased) that are stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    when(length(trim(text)) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(lit(Stopwords.toArray), t))).cast("double") /
        size(toks).cast("double"))
  }

  /** DOCUMENT CHUNKING — split long documents into fixed-size token
    * windows with overlap, the standard context-window preparation step
    * (the inverse of [[Datasets.packSequences]], which concatenates short
    * docs). Window starts are 0, step, 2·step, … while < n_tokens
    * (step = chunkTokens − overlapTokens); the tail window is shorter,
    * empty documents produce no chunks. Output: one row per chunk with
    * `chunk_index`, `chunk_text` (tokens re-joined with single spaces)
    * and `n_tokens`.
    *
    * 100 TB shape: pure columnar explode — per-row arithmetic only, no
    * shuffle, no UDFs; output row count is corpus tokens ÷ step, the
    * same order as the input token count.
    */
  def chunkDocuments(
      docs: DataFrame,
      chunkTokens: Int,
      overlapTokens: Int = 0,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunk size, got chunk=$chunkTokens overlap=$overlapTokens")
    val step = chunkTokens - overlapTokens
    val toks = when(length(trim(col(textCol))) === 0, array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    docs
      .withColumn("_toks", toks)
      .withColumn("_n", size(col("_toks")))
      // sequence() demands start <= stop for a positive step — guard the
      // empty-doc case to an empty start list instead of a runtime error
      .withColumn("_starts",
        when(col("_n") > 0, sequence(lit(0), col("_n") - 1, lit(step)))
          .otherwise(array().cast("array<int>")))
      .select(col(idCol), col("_toks"), explode(col("_starts")).as("_start"))
      .select(
        col(idCol),
        (col("_start") / step).cast("long").as("chunk_index"),
        array_join(slice(col("_toks"), col("_start") + 1, lit(chunkTokens)), " ").as("chunk_text"),
        least(lit(chunkTokens), size(col("_toks")) - col("_start")).cast("long").as("n_tokens"))
  }

  /** Composite document quality score in [0,1] — C4/Gopher-style length,
    * punctuation and stopword heuristics folded into one number:
    * docs that are too short, all punctuation, or stopword-free (word salad /
    * non-language) score low.
    */
  def qualityScore(text: Column): Column = {
    val lengthTerm = least(tokenCount(text).cast("double") / lit(50.0), lit(1.0))
    val punctTerm = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopTerm = least(stopwordRatio(text) * 4.0, lit(1.0))
    (lengthTerm + punctTerm + stopTerm) / 3.0
  }

  /** Character-frequency profiles for the n-gram language-ID heuristic:
    * per-language marker substrings with weights. Tiny, broadcast as a
    * literal into the plan (no join, no shuffle).
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " is ", " to ", "ing ", " a "),
    "de" -> Seq(" der ", " und ", " die ", " das ", " ist ", "sch", " ein "),
    "fr" -> Seq(" le ", " la ", " les ", " et ", " est ", " une ", " des "),
    "es" -> Seq(" el ", " la ", " los ", " y ", " es ", " una ", "ción"),
    "it" -> Seq(" il ", " la ", " di ", " e ", " che ", " una ", "zione"),
    "pt" -> Seq(" o ", " a ", " de ", " e ", " que ", " uma ", "ção"),
    "nl" -> Seq(" de ", " het ", " een ", " en ", " van ", " ij", " is "),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和")
  )

  /** Language-ID by marker-n-gram scoring: count marker occurrences per
    * language, take the argmax, "und" (undetermined) when no marker hits.
    * A columnar heuristic — real pipelines would broadcast a trained n-gram
    * model; the scoring plumbing (per-row argmax over per-language scores)
    * is identical.
    */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      // occurrence count via LITERAL replace (StringReplace), not
      // regexp_replace: the markers are plain substrings, and the regex
      // engine re-scanned + re-built the padded text 56 times per row —
      // the dominant per-row cost of every langId consumer. Same count
      // (both replace non-overlapping occurrences left to right).
      val score = markers
        .map(m => (length(padded) - length(call_function("replace", padded, lit(m), lit("")))) / m.length)
        .reduce(_ + _)
      struct(score.cast("long").as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") <= 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** THE tokenization contract of this module: lowercase, trim,
    * whitespace-split, empties dropped. Every operator here AND every
    * DuckDB oracle (`list_filter(string_split_regex(lower(trim(text)),
    * '\s+'), x -> len(x) > 0)`) replays exactly this formula — one owner
    * so a change cannot drift a subset of the gates.
    */
  private[graft] def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** Non-distinct word n-grams (space-joined), the repetition-analysis
    * input: unlike `word_shingles` (a distinct SET for Jaccard/MinHash),
    * this keeps every occurrence. Texts shorter than `n` tokens contribute
    * their whole token string; empty texts an empty list.
    *
    * Built as a `zip_with` fold over n shifted slices — NOT a
    * transform-over-positions whose lambda references the token array:
    * higher-order lambdas bind only their lambda variables, so an outer
    * expression inside the body (the tokenization itself!) re-evaluates
    * per POSITION; zip_with's array inputs evaluate once per ROW. Output
    * strings are identical (x1 ‖ ' ' ‖ x2 ‖ …), pinned by the existing
    * n-gram oracles.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val m = size(toks) - (n - 1) // gram count when size >= n
    val grams = (2 to n).foldLeft(slice(toks, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), m), (a, b) => concat(a, lit(" "), b))
    }
    when(size(toks) === 0, array().cast("array<string>"))
      .when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(grams)
  }

  /** Repetition ratio: fraction of n-gram occurrences that are repeats of
    * an earlier occurrence within the same document — the Gopher-rule
    * family's "repetitious document" quality signal (high ratio = looping
    * or boilerplate-stuffed text). 0 for empty docs; int/int division in
    * double, bit-stable across engines.
    */
  /** Compression-ratio quality signal in exact integer permille:
    * `deflate_len(text) · 1000 ÷ octet_length(text)` (zlib level 6, raw
    * stream — [[graft.sql.DeflateLen]]). The CCNet / RedPajama-v2
    * `compression_ratio` and Dolma gzip-compressibility heuristic:
    * repetitive machine text (keyword stuffing, boilerplate, log spam)
    * compresses far below natural language (~250‰ vs ~450–700‰), while
    * near-1000‰ flags random/encoded/binary junk. Map-only, one Deflater
    * loop per row; empty/NULL text yields NULL (no evidence).
    *
    * Downstream gates should band on thresholds, not echo the raw
    * permille: the ORDERING of the signal is stable but exact deflate
    * output is a property of the zlib build, not of any spec.
    */
  def compressionPermille(text: Column): Column =
    // floor division is exact here: the numerator is ≤ 1000·len < 2^53
    when(octet_length(text) > 0,
      floor(org.apache.spark.sql.GraftSqlBridge.column(
        graft.sql.DeflateLen(org.apache.spark.sql.GraftSqlBridge.expression(text)))
        * 1000L / octet_length(text).cast("long")).cast("long"))

  /** Keep documents whose [[compressionPermille]] sits inside the
    * natural-language band (defaults: drop below 250‰ = repetitive spam,
    * above 900‰ = random/encoded junk). NULL/empty text is dropped — no
    * signal, and an empty doc is never training data.
    */
  def compressionFilter(
      df: DataFrame,
      minPermille: Int = 250,
      maxPermille: Int = 900,
      textCol: String = "text"
  ): DataFrame = {
    require(minPermille >= 0 && maxPermille >= minPermille,
      s"need 0 <= min <= max, got $minPermille..$maxPermille")
    val p = compressionPermille(col(textCol))
    df.where(p.isNotNull && p >= minPermille && p <= maxPermille)
  }

  def repetitionRatio(text: Column, n: Int = 2): Column = {
    val g = wordNgrams(text, n)
    when(size(g) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(g)).cast("double") / size(g).cast("double"))
  }

  /** Document fingerprint: digest of the whitespace-normalized, lowercased
    * text — stable across formatting-only edits. Used as the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Polynomial rolling-hash fingerprint over the token stream:
    * h = Σ h*31 + hash(token) (mod p). Order-sensitive (unlike the
    * set-based sketches) — two docs with the same words in different order
    * fingerprint differently. Columnar, deterministic, codegen-friendly.
    */
  def rollingHash(text: Column): Column = {
    val p = lit(1000000007L)
    val toks = tokens(text)
    aggregate(
      transform(toks, t => pmod(xxhash64(t), p)),
      lit(0L),
      (acc, h) => pmod(acc * 31L + h, p))
  }

  /** Per-document top-k keyword extraction by TF-IDF with a RATIONAL idf
    * (tf · N/df instead of tf · ln(N/df)) — monotone in the same ranking and
    * free of transcendental functions, so scores are bit-identical across
    * engines (cross-engine `ln` implementations differ in the last ulp).
    *
    * Distributed shape: explode tokens → per-(doc, term) counts and
    * per-term document frequencies (two hash aggregations with map-side
    * combine) → join scores back (the df table is vocabulary-sized —
    * broadcast-able on real corpora) → per-doc top-k window. At 100 TB this
    * is the standard two-aggregation tf-idf plan; nothing is driver-side
    * except the corpus row count (a scalar any real deployment reads from
    * table stats).
    */
  def tfIdfTopK(docs: DataFrame, k: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.count()
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    // Materialize tf once and derive df FROM it: as lazy plans the df
    // branch re-scans and re-tokenizes the corpus (the branches prune
    // different columns, so their exchanges are not canonically equal
    // and AQE cannot reuse them). df = count of distinct docs per term =
    // row count per term over the (doc, term)-aggregated tf, so deriving
    // it also drops the expensive countDistinct. The checkpoint persists
    // ~the same bytes the duplicate branch's shuffle would have written,
    // and saves a full second corpus scan + tokenize at any scale.
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") * (lit(n.toDouble) / col("df").cast("double"))).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("score"), col("rn").cast("long").as("rn"))
  }

  /** BM25 relevance of every document that matches at least one query
    * term — the classic retrieval scorer (Robertson/Sparck Jones lineage),
    * used in training-data pipelines for quality-targeted subset selection
    * and keyword decontamination sweeps. Output: (doc_id, n_terms, bm25)
    * for matched docs only; unmatched docs are absent (score would be 0).
    *
    * Scoring: bm25 = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    * with the RATIONAL idf variant idf = (N − df + 0.5)/(df + 0.5) (always
    * positive, no `ln` — transcendental libm calls differ across engines
    * in the last ulp, same reasoning as [[tfIdfTopK]]'s rational idf; the
    * term-frequency saturation and length normalization, BM25's actual
    * ranking power, are untouched). avgdl is computed as one exact integer
    * token-count sum over the corpus divided once at the end, so it is
    * bit-identical regardless of partitioning; the per-doc term sum folds
    * a term-SORTED array left-to-right (`aggregate` over
    * `array_sort(collect_list(...))`), making the double summation order
    * deterministic — plain SUM over a shuffled exchange is not.
    *
    * Distributed shape: tokens are filtered to the query term set
    * MAP-SIDE (literal isin — nothing corpus-sized survives tokenization),
    * then one (doc, term) hash agg for tf carrying dl, a query-sized df
    * agg broadcast back, and a final doc-keyed agg. Two shuffles, both on
    * high-cardinality doc keys; driver holds only N and avgdl. At 100 TB
    * the intermediate is |matching tokens|, not |corpus tokens|.
    */
  def bm25Score(
      docs: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val toksAll = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("_tk"))
    // exact-integer avgdl: Σ dl (long) / count (long), ONE double
    // division — OBSERVED on the tf materialization below instead of a
    // separate corpus aggregate, so the corpus is scanned and tokenized
    // ONCE, not twice (the observe-rides-the-checkpoint fusion PageRank/
    // HITS use; the metrics see every toksAll row before the query-term
    // filter, so n/avgdl are identical to the old standalone aggregate).
    val obs = org.apache.spark.sql.Observation()
    val toks = toksAll
      .observe(obs,
        count(lit(1)).as("n"),
        sum(size(col("_tk"))).as("dlsum"),
        count(col("_tk")).as("ndl"))
      .select(col("doc_id"), size(col("_tk")).cast("double").as("dl"),
        explode(col("_tk")).as("term"))
      .where(col("term").isin(queryTerms: _*))
    // Materialize tf ONCE: df derives from tf, but as a lazy plan the df
    // branch would re-scan and re-tokenize the whole corpus (column
    // pruning drops min(dl) from that branch, so the two exchanges are
    // not canonically equal and AQE cannot reuse them — verified on the
    // executed plan). tf is at most |docs|·|queryTerms| aggregated rows,
    // so the checkpoint is small at any corpus size and saves a full
    // second corpus pass.
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), min(col("dl")).as("dl"))
      .localCheckpoint()
    val statRow = obs.get
    val n = statRow("n").asInstanceOf[Long]
    val avgdl = (statRow("dlsum"), statRow("ndl")) match {
      case (dlsum: java.lang.Long, ndl: java.lang.Long) if ndl.longValue != 0L =>
        dlsum.toDouble / ndl.toDouble
      case _ => 1.0
    }
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val perTerm = tf.join(broadcast(dfTab), "term")
      .select(col("doc_id"), col("term"),
        (idf * (col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))).as("score"))
    perTerm.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        array_sort(collect_list(struct(col("term"), col("score")))).as("_ts"))
      .select(col("doc_id"), col("n_terms"),
        aggregate(col("_ts"), lit(0.0), (acc, x) => acc + x.getField("score")).as("bm25"))
  }

  /** Global top-k by BM25 relevance: [[bm25Score]] plus an
    * ORDER-BY-score-LIMIT-k head with doc id as the total-order tiebreak.
    * Catalyst plans the limit as TakeOrderedAndProject — per-partition
    * bounded heaps merged on the driver, never a global sort — so the cut
    * costs one pass over the matched docs at any corpus size.
    */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(k > 0, "k must be positive")
    bm25Score(docs, queryTerms, k1, b, idCol, textCol)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-document token commonness/rarity score from corpus document
    * frequencies — the cheap LM-filtering proxy (CCNet-lineage): documents
    * whose distinct tokens are mostly corpus-rare score low on commonness
    * (gibberish, OCR noise), mostly-common score high (boilerplate-ish).
    * All-integer accumulation (Σ df over the doc's distinct tokens, token
    * count, corpus size) with ONE final double division — bit-identical
    * across engines, no transcendental functions.
    *
    * Distributed shape: distinct (doc, token) pairs → one hash agg for
    * per-token df → join back on token (vocabulary-sized right side) →
    * per-doc sum. Two shuffles keyed on token and doc id, cost linear in
    * corpus token count. The corpus doc count is the only driver-side
    * scalar (read from table stats in a real deployment).
    *
    * Output: id, `n_distinct_tokens`, `df_sum`, `commonness`
    * (= df_sum / (n_distinct_tokens · corpusDocs), 0 for empty docs).
    */
  def tokenRarity(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val n = docs.count()
    // Checkpoint the per-doc distinct (id, tok) incidence: it feeds BOTH
    // the df aggregation and the join probe side, and as a lazy plan each
    // use re-scans and re-tokenizes the corpus (differently-pruned
    // branches defeat AQE exchange reuse). One corpus pass instead of two.
    val pairs = docs.select(col(idCol).as("id"),
      explode(graft.ext.Dedup.tokenSet(col(textCol))).as("tok"))
      .localCheckpoint()
    val dfTab = pairs.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val perDoc = pairs.join(dfTab, "tok")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_distinct_tokens"), sum(col("df")).as("df_sum"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_distinct_tokens"), lit(0L)).as("n_distinct_tokens"),
        coalesce(col("df_sum"), lit(0L)).as("df_sum"),
        when(coalesce(col("n_distinct_tokens"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("df_sum").cast("double") /
            (col("n_distinct_tokens") * lit(n)).cast("double")).as("commonness"))
  }

  /** Inverted-index build: token → (document frequency, posting list of
    * the first `maxPostings` doc ids) — the search/retrieval-index step
    * over a corpus. Skew-safe by construction: the posting list is capped
    * BEFORE aggregation by a per-token row_number window (smallest ids
    * win, deterministic), so a stop-word's collect buffer holds at most
    * `maxPostings` ids instead of the whole corpus; the true document
    * frequency is still reported (count window over the same exchange the
    * ranking needs — one shuffle keyed on token total).
    */
  def invertedIndex(
      docs: DataFrame,
      maxPostings: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("tok"))
    val pairs = docs.select(col(idCol).as("id"),
      explode(graft.ext.Dedup.tokenSet(col(textCol))).as("tok"))
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("_rn", row_number().over(w.orderBy(col("id"))))
      .where(col("_rn") <= maxPostings)
    pairs.groupBy(col("tok"))
      .agg(first(col("df")).as("df"),
        sort_array(collect_list(col("id"))).as("postings"))
  }

  /** Charset/diacritic normalization before fingerprinting and dedup:
    * lowercase, fold common Latin diacritics to ASCII, collapse whitespace
    * runs, trim. Pure columnar translate/regexp chain — map-only,
    * codegen'd, and expressible identically in any engine (the fold table
    * is explicit, no locale-dependent library call).
    */
  val DiacriticsFrom = "áàâäãåéèêëíìîïóòôöõúùûüçñýÿ"
  val DiacriticsTo = "aaaaaaeeeeiiiiooooouuuucnyy"
  def normalizeText(text: Column): Column =
    trim(regexp_replace(translate(lower(text), DiacriticsFrom, DiacriticsTo), "\\s+", " "))

  /** UTF-8-read-as-Windows-1252 mojibake repair table: each key is the
    * cp1252 decoding of a common character's UTF-8 bytes (`é` = C3 A9 →
    * `Ã©`; `’` = E2 80 99 → `â€` + U+2122), each value the intended
    * character. Three-byte punctuation entries precede the two-byte Latin
    * table (their `â` prefix is disjoint from `Ã`/`Â`, so only intra-group
    * order matters and none of the keys overlaps another's output). The
    * table is the single source of truth: the engine folds it into a
    * replace chain and the DuckDB oracle is GENERATED from the same
    * entries, so a table edit can never desynchronize the two engines.
    * Caveat: on ALREADY-corrupt input an earlier entry's output can
    * complete a later entry's key (a dangling `â€` prefix followed by a
    * repaired `”` reads as the em-dash pattern) — the cascade is
    * deterministic and oracle-shared, but a repair chain is heuristic on
    * doubly-broken text by nature.
    * U+009D below is cp1252's unmapped 0x9D byte surfacing as a C1
    * control — exactly what a lenient decoder emits for `”`.
    */
  val MojibakeTable: Seq[(String, String)] = Seq(
    // E2 80 xx punctuation (three-byte UTF-8 misread): U+00E2 U+20AC + cp1252(xx);
    // 0x9D is unmapped in cp1252 and surfaces as the C1 control U+009D
    "\u00e2\u20ac\u2122" -> "\u2019",
    "\u00e2\u20ac\u02dc" -> "\u2018",
    "\u00e2\u20ac\u0153" -> "\u201c",
    "\u00e2\u20ac\u009d" -> "\u201d",
    "\u00e2\u20ac\u201c" -> "\u2013",
    "\u00e2\u20ac\u201d" -> "\u2014",
    "\u00e2\u20ac\u00a6" -> "\u2026",
    "\u00e2\u20ac\u00a2" -> "\u2022",
    // C3 xx Latin letters (two-byte UTF-8 misread): U+00C3 + latin1(xx)
    "\u00c3\u00a9" -> "\u00e9",
    "\u00c3\u00a8" -> "\u00e8",
    "\u00c3\u00aa" -> "\u00ea",
    "\u00c3\u00ab" -> "\u00eb",
    "\u00c3\u00a1" -> "\u00e1",
    "\u00c3\u00a0" -> "\u00e0",
    "\u00c3\u00a4" -> "\u00e4",
    "\u00c3\u00a3" -> "\u00e3",
    "\u00c3\u00a5" -> "\u00e5",
    "\u00c3\u00a7" -> "\u00e7",
    "\u00c3\u00ad" -> "\u00ed",
    "\u00c3\u00ac" -> "\u00ec",
    "\u00c3\u00ae" -> "\u00ee",
    "\u00c3\u00af" -> "\u00ef",
    "\u00c3\u00b3" -> "\u00f3",
    "\u00c3\u00b2" -> "\u00f2",
    "\u00c3\u00b4" -> "\u00f4",
    "\u00c3\u00b6" -> "\u00f6",
    "\u00c3\u00b5" -> "\u00f5",
    "\u00c3\u00b1" -> "\u00f1",
    "\u00c3\u00ba" -> "\u00fa",
    "\u00c3\u00b9" -> "\u00f9",
    "\u00c3\u00bb" -> "\u00fb",
    "\u00c3\u00bc" -> "\u00fc",
    // C2 xx (two-byte misread); the NBSP repair emits an ASCII space directly
    "\u00c2\u00a0" -> " ",
    "\u00c2\u00ab" -> "\u00ab",
    "\u00c2\u00bb" -> "\u00bb",
    "\u00c2\u00b0" -> "\u00b0"
  )

  /** Repair the [[MojibakeTable]] sequences — a literal replace chain
    * (codegen'd StringReplace, no regex engine), map-only.
    */
  def fixMojibake(text: Column): Column =
    MojibakeTable.foldLeft(text) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }

  /** Unicode NFC / NFKC composition via the engine's codegen'd
    * [[graft.sql.UnicodeNormalize]] expression (no Spark built-in exists;
    * a UDF would leave whole-stage codegen).
    */
  def nfcNormalize(text: Column): Column = call_function("nfc", text)
  def nfkcNormalize(text: Column): Column = call_function("nfkc", text)

  /** ASCII + C1 control characters (except \t \n \r) — junk in decoded
    * web text, including cp1252-undecodable bytes surfaced as C1.
    */
  val ControlCharsRegex = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"
  def stripControlChars(text: Column): Column = regexp_replace(text, ControlCharsRegex, "")

  /** Zero-width space, BOM and soft hyphen — invisible characters that
    * split tokens and defeat exact dedup. ZWJ/ZWNJ are deliberately KEPT
    * (they are meaningful in emoji sequences and Indic/Persian scripts).
    */
  val InvisibleCharsRegex = "[\\u200B\\uFEFF\\u00AD]"
  def stripInvisibleChars(text: Column): Column = regexp_replace(text, InvisibleCharsRegex, "")

  /** Unicode space separators (NBSP, en/em/thin spaces, ideographic
    * space) → ASCII space, so tokenizers split uniformly.
    */
  val UnicodeSpacesRegex = "[\\u00A0\\u1680\\u2000-\\u200A\\u202F\\u205F\\u3000]"
  def mapUnicodeSpaces(text: Column): Column = regexp_replace(text, UnicodeSpacesRegex, " ")

  /** The composed Unicode-hygiene pass a crawl corpus gets before any
    * fingerprinting, dedup or tokenization: mojibake repair → NFC →
    * control strip → invisible strip → space unification → space-run
    * collapse → trim. One map-only projection; every step is a codegen'd
    * string expression (the replace chain and the regexes fuse into the
    * same WholeStageCodegen span), so the 100 TB cost is one scan.
    * Newlines are preserved — only SPACE runs collapse (line structure
    * feeds the line-level dedup and quality ops downstream).
    */
  def cleanUnicode(text: Column): Column =
    trim(regexp_replace(
      mapUnicodeSpaces(stripInvisibleChars(stripControlChars(nfcNormalize(fixMojibake(text))))),
      " {2,}", " "))

  /** Log₂-bucketed histogram of a per-row value, grouped by a label — the
    * corpus-report primitive (token-length distributions per language,
    * etc.). Bucket k holds values with floor(log₂(v+1)) = k, so bucket
    * boundaries are powers of two (log₂ is exact there in IEEE — the floor
    * is engine-stable). One hash aggregation, map-side combined.
    */
  def logHistogram(df: DataFrame, valueCol: Column, labelCol: Column): DataFrame =
    df.groupBy(labelCol.as("label"),
        floor(log2(valueCol.cast("double") + 1.0)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(valueCol).cast("long").as("min_v"),
        max(valueCol).cast("long").as("max_v"),
        sum(valueCol).cast("long").as("sum_v"))

  /** PII redaction: replace emails, URLs and phone-shaped digit runs with
    * typed placeholder tokens. Columnar regexp_replace chain (codegen'd, no
    * UDF); the patterns use only constructs with identical semantics in
    * Java regex and RE2 (char classes, quantifiers, ASCII \b) so the
    * correctness oracle can replay them in DuckDB verbatim.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^\\s]+", "<URL>")
    regexp_replace(url, "\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b", "<PHONE>")
  }

  /** Tokenizer-prep: the top-`topN` vocabulary by occurrence count with
    * CUMULATIVE corpus coverage — the "how big must the vocab be to
    * cover 95% of tokens" table every tokenizer-training run starts
    * from. One corpus scan into a vocabulary-sized hash agg; the global
    * top-N plans as per-partition heaps (`TakeOrderedAndProject`), and
    * the rank/cumsum window runs over the N-row result, never the
    * vocabulary. Coverage is an integer permille of total occurrences
    * (scalar total broadcast via cross join).
    *
    * Returns `(rank, token, cnt, cum_permille)`, rank 1-based by
    * (count desc, token).
    */
  def vocabCoverage(
      docs: DataFrame,
      topN: Int = 50,
      textCol: String = "text"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN > 0, s"topN must be positive, got $topN")
    val toks = tokens(col(textCol))
    val counts = docs.where(col(textCol).isNotNull)
      .select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("_total"))
    val w = Window.orderBy(col("cnt").desc, col("token"))
    counts
      .orderBy(col("cnt").desc, col("token")).limit(topN)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("_cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("token"), col("cnt"),
        expr("(1000 * _cum) div _total").as("cum_permille"))
  }

  /** Tokenizer-prep: adjacent-character pair frequencies within
    * whitespace tokens — EXACTLY the candidate table the first BPE merge
    * iteration maximizes over (Sennrich et al. 2016), distributed: one
    * corpus scan, a columnar per-token pair explode (no UDF), one
    * pair-cardinality hash agg with map-side combine, and a heap top-N.
    * Later BPE iterations re-run this over re-segmented tokens; the
    * per-iteration shape is identical.
    *
    * Returns `(rank, pair, cnt)`, rank 1-based by (count desc, pair).
    */
  def bpePairStats(
      docs: DataFrame,
      topN: Int = 40,
      textCol: String = "text"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN > 0, s"topN must be positive, got $topN")
    val toks = tokens(col(textCol))
    val counts = docs.where(col(textCol).isNotNull)
      .select(explode(toks).as("w"))
      .where(length(col("w")) >= 2)
      .select(explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("pair"))
    counts
      .orderBy(col("cnt").desc, col("pair")).limit(topN)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("pair"), col("cnt"))
  }

  /** Hashed-feature LINEAR TEXT CLASSIFIER inference — the fastText /
    * CCNet quality-classifier shape, the scoring pass corpus pipelines
    * run over every document: features are the unigrams + bigrams of the
    * [[tokens]] contract, hashed into `numBuckets` buckets (the hashing
    * trick — no vocabulary file ships with the model), each bucket
    * carrying a weight from the caller's trained `weights` table; a
    * document's raw score is the sum of its feature-occurrence weights.
    *
    * Scale shape: one corpus scan, columnar feature explode (no UDF), a
    * BROADCAST join against the weight table (≤ numBuckets rows — model
    * weights are KBs-to-MBs), one per-doc hash agg with map-side
    * combine. All-integer (the caller quantizes trained weights), so the
    * gate replays bit-exactly; the feature hash is the same md5-derived
    * 60-bit value [[sourceOverlapKmv]] pins cross-engine.
    *
    * `weights`: `(bucket: Long, weight: Long)`; buckets absent from the
    * table score 0 (sparse models are the norm). Returns `(idCol,
    * n_features, raw_score)`; docs with no features (empty/NULL text) do
    * not appear — route them via the quality filters instead.
    */
  def linearTextScore(
      docs: DataFrame,
      weights: DataFrame,
      numBuckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val toks = tokens(col("_t"))
    // element_at pair, not slice-per-position: this transform runs
    // interpreted and slice() allocates per bigram (see blocklistHits);
    // and rows spread first — same per-token-cost rationale as there
    val bigrams = when(size(col("_tk")) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(col("_tk")) - 2),
        i => concat_ws(" ", element_at(col("_tk"), (i + 1).cast("int")),
          element_at(col("_tk"), (i + 2).cast("int")))))
    val feats = docs.where(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("_t"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), toks.as("_tk"))
      .select(col(idCol), explode(concat(col("_tk"), bigrams)).as("f"))
      .select(col(idCol),
        pmod(conv(substring(md5(col("f")), 1, 15), 16, 10).cast("long"),
          lit(numBuckets.toLong)).as("bucket"))
    feats
      .join(broadcast(weights.select(col("bucket"), col("weight"))), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_features"),
        sum(coalesce(col("weight"), lit(0L))).as("raw_score"))
  }

  /** URL canonicalization — the crawl-dedup key derivation (a page is
    * fetched under dozens of spellings; corpus pipelines dedup on the
    * canonical form before any content hashing). Pure columnar
    * (locate/substr/split/filter/sort — codegen-friendly, no UDF, no
    * regex backtracking), and every step is DuckDB-replayable so the
    * gate pins the exact contract:
    *
    *  - fragment dropped (`#…` never reaches the server)
    *  - scheme and host lowercased (RFC 3986 §6.2.2.1); PATH case kept
    *    (case-significant on most origins)
    *  - leading `www.` stripped; default ports `:80` (http) / `:443`
    *    (https) stripped
    *  - tracking params dropped (`utm_*`, `fbclid`, `gclid`, `ref`),
    *    remaining params sorted byte-wise (param order is not semantic),
    *    empty params dropped
    *  - ONE trailing slash stripped from a non-root path
    *
    * Expects an absolute URL with a scheme (crawl records carry one); a
    * scheme-less input passes through the same steps with an empty
    * scheme prefix rather than erroring — garbage keys are data.
    */
  def urlCanonicalize(url: Column): Column = {
    val u = trim(url)
    val noFrag = when(instr(u, "#") > 0, u.substr(lit(1), instr(u, "#") - 1)).otherwise(u)
    val qpos = instr(noFrag, "?")
    val base = when(qpos > 0, noFrag.substr(lit(1), qpos - 1)).otherwise(noFrag)
    val rawQ = when(qpos > 0, noFrag.substr(qpos + 1, length(noFrag) - qpos)).otherwise(lit(""))
    val spos = instr(base, "://")
    val scheme = when(spos > 0, lower(base.substr(lit(1), spos - 1))).otherwise(lit(""))
    val rest = when(spos > 0, base.substr(spos + 3, length(base))).otherwise(base)
    val slash = instr(rest, "/")
    val hostPort = lower(when(slash > 0, rest.substr(lit(1), slash - 1)).otherwise(rest))
    val path0 = when(slash > 0, rest.substr(slash, length(rest))).otherwise(lit(""))
    val noWww = when(substring(hostPort, 1, 4) === "www.",
      hostPort.substr(lit(5), length(hostPort))).otherwise(hostPort)
    val host = when(scheme === "https" && substring(noWww, -4, 4) === ":443",
        noWww.substr(lit(1), length(noWww) - 4))
      .when(scheme === "http" && substring(noWww, -3, 3) === ":80",
        noWww.substr(lit(1), length(noWww) - 3))
      .otherwise(noWww)
    val path = when(length(path0) > 1 && substring(path0, -1, 1) === "/",
      path0.substr(lit(1), length(path0) - 1)).otherwise(path0)
    val params = filter(split(rawQ, "&"), p =>
      length(p) > 0 &&
        !(substring(p, 1, 4) === "utm_") &&
        !substring_index(p, "=", 1).isin("fbclid", "gclid", "ref"))
    val sortedQ = concat_ws("&", array_sort(params))
    concat(
      when(scheme === "", lit("")).otherwise(concat(scheme, lit("://"))),
      host, path,
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** Canonical-URL dedup: group by [[urlCanonicalize]]'s key, keep the
    * smallest id (crawl pipelines keep first-seen). One hash agg with
    * map-side combine — the 100 TB shape; NULL urls pass through
    * untouched as their own rows' keepers is NOT the stance here: NULL
    * url rows are dropped (no fetch key, nothing to dedup against —
    * callers route them separately).
    *
    * Returns `(canonical_url, keeper_id, n_dups)`.
    */
  def canonicalUrlDedup(
      docs: DataFrame,
      urlCol: String = "url",
      idCol: String = "doc_id"
  ): DataFrame =
    docs.where(col(urlCol).isNotNull)
      // STAGED canonicalization, same function as [[urlCanonicalize]]
      // (pinned equal by spec): the single-Column form re-derives shared
      // subtrees (`instr`, the substr chains) at every reference because
      // the embedded higher-order param filter knocks the projection out
      // of whole-stage codegen and interpreted eval has no subexpression
      // elimination. Materializing each intermediate once per row via
      // chained projections (CollapseProject keeps multiply-referenced
      // non-cheap aliases staged) cuts the per-row tree walk ~5x.
      .select(col(idCol), trim(col(urlCol)).as("_u"))
      .withColumn("_nofrag",
        when(instr(col("_u"), "#") > 0, col("_u").substr(lit(1), instr(col("_u"), "#") - 1))
          .otherwise(col("_u")))
      .withColumn("_qpos", instr(col("_nofrag"), "?"))
      .withColumn("_base",
        when(col("_qpos") > 0, col("_nofrag").substr(lit(1), col("_qpos") - 1)).otherwise(col("_nofrag")))
      .withColumn("_rawq",
        when(col("_qpos") > 0,
          col("_nofrag").substr(col("_qpos") + 1, length(col("_nofrag")) - col("_qpos")))
          .otherwise(lit("")))
      .withColumn("_spos", instr(col("_base"), "://"))
      .withColumn("_scheme",
        when(col("_spos") > 0, lower(col("_base").substr(lit(1), col("_spos") - 1))).otherwise(lit("")))
      .withColumn("_rest",
        when(col("_spos") > 0, col("_base").substr(col("_spos") + 3, length(col("_base"))))
          .otherwise(col("_base")))
      .withColumn("_slash", instr(col("_rest"), "/"))
      .withColumn("_hostport",
        lower(when(col("_slash") > 0, col("_rest").substr(lit(1), col("_slash") - 1))
          .otherwise(col("_rest"))))
      .withColumn("_path0",
        when(col("_slash") > 0, col("_rest").substr(col("_slash"), length(col("_rest"))))
          .otherwise(lit("")))
      .withColumn("_nowww",
        when(substring(col("_hostport"), 1, 4) === "www.",
          col("_hostport").substr(lit(5), length(col("_hostport")))).otherwise(col("_hostport")))
      .withColumn("_host",
        when(col("_scheme") === "https" && substring(col("_nowww"), -4, 4) === ":443",
          col("_nowww").substr(lit(1), length(col("_nowww")) - 4))
          .when(col("_scheme") === "http" && substring(col("_nowww"), -3, 3) === ":80",
            col("_nowww").substr(lit(1), length(col("_nowww")) - 3))
          .otherwise(col("_nowww")))
      .withColumn("_path",
        when(length(col("_path0")) > 1 && substring(col("_path0"), -1, 1) === "/",
          col("_path0").substr(lit(1), length(col("_path0")) - 1)).otherwise(col("_path0")))
      .withColumn("_sortedq",
        concat_ws("&", array_sort(filter(split(col("_rawq"), "&"), p =>
          length(p) > 0 &&
            !(substring(p, 1, 4) === "utm_") &&
            !substring_index(p, "=", 1).isin("fbclid", "gclid", "ref")))))
      .select(
        concat(
          when(col("_scheme") === "", lit("")).otherwise(concat(col("_scheme"), lit("://"))),
          col("_host"), col("_path"),
          when(col("_sortedq") === "", lit("")).otherwise(concat(lit("?"), col("_sortedq"))))
          .as("canonical_url"),
        col(idCol))
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Blocklist phrase filtering (the safety/compliance filter every
    * corpus pipeline runs before training): count occurrences of each
    * blocked TOKEN PHRASE (1..k tokens, [[tokens]] contract) per
    * document. Token-sequence matching, not substring — "ass" does not
    * hit "class" — which is why this is gram-join shaped rather than a
    * regex.
    *
    * One corpus scan regardless of how many phrase lengths the list
    * mixes: per row the n-grams for every DISTINCT length present in the
    * list are built columnar and concatenated (guarded so a text shorter
    * than `n` contributes nothing for that length — [[wordNgrams]]'
    * whole-text fallback would double-count against shorter phrases),
    * then one explode → broadcast hash join against the phrase list →
    * one (doc, phrase) hash agg with map-side combine. The phrase list
    * broadcasts (blocklists are KBs); corpus-side work is linear in
    * token count × distinct lengths, shuffle carries only matched hits.
    *
    * Returns `(idCol, phrase, n_hits)`, one row per document × matched
    * phrase.
    */
  def blocklistHits(
      docs: DataFrame,
      phrases: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val normalized = phrases.map(p => p.trim.toLowerCase.split("\\s+").mkString(" "))
      .filter(_.nonEmpty).distinct
    require(normalized.nonEmpty, "blocklist must contain at least one non-empty phrase")
    val lengths = normalized.map(_.split(" ").length).distinct.sorted
    val toks = tokens(col("_t"))
    // Grams build as n element_at + one concat per position — NOT a
    // per-position slice(): these higher-order transforms run interpreted
    // (CodegenFallback) and a slice allocates a fresh array per gram,
    // which dominated the runtime ~4x. Bit-identical output.
    val gramsPerLen = lengths.map { n =>
      when(size(col("_tk")) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(col("_tk")) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("_tk"), (i + (k + 1)).cast("int"))): _*)))
    }
    val allGrams = if (gramsPerLen.sizeIs == 1) gramsPerLen.head else concat(gramsPerLen: _*)
    val spark = docs.sparkSession
    import spark.implicits._
    val blist = broadcast(normalized.toDF("phrase"))
    docs.where(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("_t"))
      // interpreted per-token work ~1000x the bytes scanned: spread rows
      // across the cluster instead of trusting file-split parallelism
      // (same rationale as Dedup.contentChunks)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col(idCol), toks.as("_tk"))
      .select(col(idCol), explode(allGrams).as("gram"))
      .join(blist, col("gram") === col("phrase"))
      .groupBy(col(idCol), col("phrase"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Distributed BPE merge TRAINING (Sennrich et al. 2016, the full
    * iterative loop — [[bpePairStats]] is its first iteration's candidate
    * table): learn `rounds` merge rules from the corpus and return the
    * merge table `(round, pair, merged, cnt)`.
    *
    * The algorithm runs on the WORD-COUNT table, not the corpus: the
    * corpus is scanned exactly once (token explode → word hash agg with
    * map-side combine); every later iteration touches only the
    * vocabulary-bounded `(repr, cnt)` frame, where `repr` is the word's
    * current space-separated symbol segmentation ("lower" → "l o w e r").
    * Per round: one vocab-bounded pair-count hash agg (the only shuffle),
    * a 1-row top-pair fetch to the driver (bounded by contract: one row
    * per round), and a map-only `replace` re-segmentation. At 100 TB the
    * corpus pass dominates once; the loop's cost is O(rounds × |vocab|),
    * independent of corpus size — exactly how production BPE trainers
    * split the work. Lineage is truncated each round (`localCheckpoint`)
    * so `rounds` stays O(1) plan depth, as in [[graft.ext.Graph]]'s loops.
    *
    * Merge application semantics (the cross-engine contract): the pair
    * `"a b"` is applied to `' ' || repr || ' '` via standard left-to-right
    * NON-OVERLAPPING string replace of `' a b '` with `' ab '`, scanning
    * resuming after each match's end — identical in Spark
    * (`UTF8String.replace`) and DuckDB (`replace`). On runs of identical
    * symbols this differs from strict one-at-a-time greedy BPE: a match
    * consumes its TRAILING space, so a run merges at alternate positions
    * per round (`"a a a a"` → `"aa a a"`, not `"aa aa"`). It is the SAME
    * deterministic function in both engines — pinned by a spec on that
    * exact run — and converges to the same vocabulary over rounds.
    */
  def bpeTrain(
      docs: DataFrame,
      rounds: Int = 8,
      textCol: String = "text"
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLoop(docs, rounds, textCol)._2.toDF("round", "pair", "merged", "cnt")
  }

  /** The shared BPE merge loop: returns the word table after all rounds
    * (`(w, repr, cnt)` — `repr` is each distinct word's final
    * space-separated segmentation, still checkpointed) plus the learned
    * merge list. [[bpeTrain]] returns the merges; [[bpeEncode]] joins
    * the corpus against the segmentations.
    */
  private def bpeLoop(
      docs: DataFrame,
      rounds: Int,
      textCol: String
  ): (DataFrame, Seq[(Int, String, String, Long)]) = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val chars = filter(split(col("w"), ""), c => length(c) > 0)
    var words = docs.where(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), concat_ws(" ", chars).as("repr"), col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // Guard BEFORE the explode: a single-symbol word would make
      // sequence(0, -1) infer a DESCENDING step ([0, -1]) and index past
      // the array under ANSI; such words simply contribute no pairs.
      val top = words
        .where(size(split(col("repr"), " ")) >= 2)
        .select(expr(
          "explode(transform(sequence(0, size(split(repr, ' ')) - 2), " +
            "i -> concat(split(repr, ' ')[i], ' ', split(repr, ' ')[i + 1])))").as("pair"),
          col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val merged = pair.replace(" ", "")
        merges += ((r, pair, merged, top(0).getLong(1)))
        val prev = words
        words = words
          .select(
            col("w"),
            trim(replace(concat(lit(" "), col("repr"), lit(" ")),
              lit(s" $pair "), lit(s" $merged "))).as("repr"),
            col("cnt"))
          .localCheckpoint()
        // The new checkpoint is materialized (localCheckpoint is eager);
        // the previous round's RDD blocks are dead — release them
        graft.ops.Checkpoints.release(prev)
        r += 1
      }
    }
    (words, merges.toSeq)
  }

  /** BPE ENCODING with a vocabulary trained in the same pass: learn
    * `rounds` merges ([[bpeTrain]]'s loop), then tokenize the corpus by
    * joining each document's words against the final word-segmentation
    * table — per doc the true BPE piece count `bpe_tokens` (what a token
    * budget is billed in) and `n_words`.
    *
    * 100 TB shape: the training loop is vocabulary-bounded (see
    * [[bpeTrain]]); encoding is ONE more corpus scan (token explode) +
    * an equi-join against the vocab-sized segmentation table (AQE
    * broadcasts it when it fits — a natural-language vocabulary is
    * MBs at any corpus size) + a per-doc hash agg. No per-document merge
    * iteration: every occurrence of a word shares the segmentation
    * computed once on the word table — the reason production tokenizers
    * encode from a trained vocab instead of re-running merges per text.
    * Documents with no tokens produce no output row.
    */
  def bpeEncode(
      docs: DataFrame,
      rounds: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val (words, _) = bpeLoop(docs, rounds, textCol)
    val seg = words.select(col("w"),
      size(split(col("repr"), " ")).cast("long").as("_pieces"))
    docs.where(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(seg, "w")
      .groupBy(col(idCol))
      .agg(sum(col("_pieces")).as("bpe_tokens"),
        count(lit(1)).as("n_words"))
  }

  /** Mixed-language document segmentation (the mC4/CCNet step that
    * splits a page whose header is English and body is German before
    * per-language filtering): classify each LINE with [[langId]], then
    * fuse runs of consecutive same-language lines into segments with a
    * gaps-and-islands window — the line-level analog of
    * [[graft.ext.Dedup.duplicateSpans]]' island merge. Lines arrive as
    * rows `(idCol, ordCol, lineCol)` (explode a text column upstream);
    * the only shuffle is the per-doc window.
    *
    * Returns `(idCol, lang, seg_start, seg_end, n_lines)` — ord bounds
    * inclusive; a language reappearing later in the doc yields a second
    * segment row.
    */
  def languageSegments(
      lines: DataFrame,
      idCol: String = "doc_id",
      ordCol: String = "line_no",
      lineCol: String = "line"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!lines.columns.exists(Set("_lang", "_prev", "_brk", "_seg")),
      "columns _lang/_prev/_brk/_seg are reserved by languageSegments")
    val w = Window.partitionBy(col(idCol)).orderBy(col(ordCol))
    // langId is ~56 marker scans per LINE inside the scan stage — spread
    // small inputs across cores before it (guarded no-op at scale)
    graft.ext.Spread.acrossCores(lines.where(col(lineCol).isNotNull))
      .withColumn("_lang", langId(col(lineCol)))
      .withColumn("_prev", lag(col("_lang"), 1).over(w))
      .withColumn("_brk",
        when(col("_prev").isNull || col("_prev") =!= col("_lang"), 1L).otherwise(0L))
      .withColumn("_seg",
        sum(col("_brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_seg"), col("_lang"))
      .agg(min(col(ordCol)).as("seg_start"), max(col(ordCol)).as("seg_end"),
        count(lit(1)).as("n_lines"))
      .select(col(idCol), col("_lang").as("lang"), col("seg_start"), col("seg_end"),
        col("n_lines"))
  }

  /** LM-proxy fluency score without an LM: per-document mean corpus
    * bigram probability, in permille — the integer-exact stand-in for
    * the KenLM/CCNet perplexity bucket (docs whose word transitions are
    * rare IN THIS CORPUS score low: boilerplate and templated text score
    * high, shuffled/garbled text low). Each bigram occurrence scores
    * `(1000·c(w1w2)) div c(w1)` from corpus-level counts (c1 counts w1
    * anywhere, so the ratio is a true conditional-probability estimate
    * bounded by 1000); a doc reports the count, sum and truncated mean.
    *
    * Scale shape: two hash-aggregated count tables (bigram types and
    * unigram vocabulary — both vocabulary-bounded, NOT corpus-bounded),
    * joined back onto the bigram occurrence stream; AQE broadcasts the
    * unigram side outright and the join on (w1, w2) shuffles at most the
    * occurrence stream once. All arithmetic integral — replayable.
    *
    * Returns `(idCol, n_bigrams, sum_permille, mean_permille)`; docs
    * with fewer than 2 tokens are absent (no bigram evidence ≠ score 0).
    */
  def bigramSurprisal(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val toks = tokens(col(textCol))
    val base = docs.where(col(textCol).isNotNull)
      .select(col(idCol), toks.as("_t"))
    val occ = base.where(size(col("_t")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("_t"), lit(1), size(col("_t")) - 1),
        slice(col("_t"), lit(2), size(col("_t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val uni = base.select(explode(col("_t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("_c1"))
    val big = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("_c12"))
    occ
      .join(big, Seq("w1", "w2"))
      .join(uni, occ("w1") === uni("w"))
      .select(col(idCol), expr("(1000 * _c12) div _c1").as("_pm"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_pm")).as("sum_permille"))
      .withColumn("mean_permille", expr("sum_permille div n_bigrams"))
  }

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007 — "Large
    * language models in machine translation", the web-scale LM that
    * deliberately drops normalization for O(1) scoring): per trigram
    * occurrence
    *
    *   S(w3|w1,w2) = c123/c12         if the trigram was seen,
    *                 0.4 · c23/c2     else if the bigram was seen,
    *                 0.4² · c3/N      otherwise,
    *
    * in integer permille with truncating division ((1000·c123) div c12 /
    * (400·c23) div c2 / (160·c3) div N) so the gate is bit-exact
    * cross-engine — the backoff factor 0.4 is Brants' published
    * constant. Since counts come from the SAME corpus being scored, the
    * trigram branch always fires here; the lower branches are exercised
    * by the spec with a held-out scoring set. Upgrades [[bigramSurprisal]]
    * with one more order of context.
    *
    * Returns per doc `(idCol, n_trigrams, sum_permille, mean_permille)` —
    * docs with < 3 tokens produce no row.
    *
    * 100 TB shape: ONE corpus scan explodes trigrams; the three count
    * tables are vocabulary-bounded hash aggs (map-side combined) joined
    * back onto the trigram stream (AQE broadcasts the small ones); the
    * final per-doc agg is the only data-sized shuffle.
    */
  def stupidBackoff(
      docs: DataFrame,
      scoreAgainst: Option[DataFrame] = None,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val corpus = scoreAgainst.getOrElse(docs)
    require(!Set("w1", "w2", "w3")(idCol),
      "idCol may not be named w1/w2/w3 (reserved by stupidBackoff)")
    def toks(df: DataFrame, cols: Column*) = df.where(col(textCol).isNotNull)
      .select(cols :+ tokens(col(textCol)).as("_t"): _*)
    val corpusToks = toks(corpus)
    val uni = corpusToks.select(explode(col("_t")).as("w3"))
      .groupBy(col("w3")).agg(count(lit(1)).as("_c3"))
    val bi = corpusToks.where(size(col("_t")) >= 2)
      .select(explode(zip_with(
        slice(col("_t"), lit(1), size(col("_t")) - 1),
        slice(col("_t"), lit(2), size(col("_t")) - 1),
        (a, b) => struct(a.as("w2"), b.as("w3")))).as("_b"))
      .select(col("_b.w2").as("w2"), col("_b.w3").as("w3"))
      .groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("_c23"))
    val tri = corpusToks.where(size(col("_t")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(_t) - 3), " +
          "i -> struct(_t[i] as w1, _t[i+1] as w2, _t[i+2] as w3))")).as("_g"))
      .select(col("_g.w1").as("w1"), col("_g.w2").as("w2"), col("_g.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("_c123"))
    // context tables derive from the same counts (no extra corpus scan)
    val biCtx = tri.groupBy(col("w1"), col("w2"))
      .agg(sum(col("_c123")).as("_c12"))
      .select(col("w1").as("cw1"), col("w2").as("cw2"), col("_c12"))
    val uniCtx = bi.groupBy(col("w2")).agg(sum(col("_c23")).as("_c2"))
      .select(col("w2").as("cw2b"), col("_c2"))
    // NULL on an empty/all-NULL corpus — clamp instead of NPE; the
    // unigram branch then scores 0 for everything, which is right.
    val nRow = corpusToks.select(sum(size(col("_t"))).as("_n")).head()
    val bigN = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val occ = toks(docs, col(idCol)).where(size(col("_t")) >= 3)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(_t) - 3), " +
          "i -> struct(_t[i] as w1, _t[i+1] as w2, _t[i+2] as w3))")).as("_g"))
      .select(col(idCol), col("_g.w1").as("w1"), col("_g.w2").as("w2"), col("_g.w3").as("w3"))
    occ
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(biCtx, col("w1") === col("cw1") && col("w2") === col("cw2"), "left")
      .join(bi.select(col("w2").as("bw2"), col("w3").as("bw3"), col("_c23")),
        col("w2") === col("bw2") && col("w3") === col("bw3"), "left")
      .join(uniCtx, col("w2") === col("cw2b"), "left")
      .join(uni.select(col("w3").as("uw3"), col("_c3")), col("w3") === col("uw3"), "left")
      .select(col(idCol),
        when(col("_c123").isNotNull, expr("(1000 * _c123) div _c12"))
          .when(col("_c23").isNotNull, expr("(400 * _c23) div _c2"))
          .otherwise(expr(s"(160 * coalesce(_c3, 0)) div ${math.max(bigN, 1L)}"))
          .as("_pm"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("_pm")).as("sum_permille"))
      .withColumn("mean_permille", expr("sum_permille div n_trigrams"))
  }

  /** Sentence segmentation stats — the columnar regex split every
    * readability/quality heuristic needs (sentences = maximal runs of
    * non-terminator chars plus their trailing `[.!?]` run; whitespace-
    * only fragments dropped; no lookbehind, so Java regex and RE2
    * agree). Returns per doc `(idCol, n_sentences, n_words,
    * words_per_sentence_permille)` with the mean in truncating integer
    * permille. Docs with zero sentences produce no row. Map-only.
    */
  def sentenceStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val sents = filter(
      regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]*"), lit(0)),
      s => length(trim(s)) > 0)
    docs.where(col(textCol).isNotNull)
      .select(col(idCol),
        size(sents).cast("long").as("n_sentences"),
        tokenCount(col(textCol)).cast("long").as("n_words"))
      .where(col("n_sentences") > 0)
      .withColumn("words_per_sentence_permille",
        expr("(1000 * n_words) div n_sentences"))
  }

  /** Per-slice corpus card: the one-table dataset report a curation run
    * publishes next to the data — document/empty counts, language
    * spread, char and token volume, and the cross-corpus duplicate count
    * (docs whose normalized fingerprint occurs more than once ANYWHERE,
    * attributed to their slice — duplication is a corpus property, not a
    * per-slice one). Two hash aggregations plus a fingerprint-count join;
    * every output integral.
    *
    * Returns `(labelCol, n_docs, n_null_text, n_langs, sum_chars,
    * sum_tokens, n_dup_docs)`.
    */
  def corpusCard(
      docs: DataFrame,
      labelCol: String = "source",
      textCol: String = "text",
      langCol: String = "lang",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(!docs.columns.exists(Set("_fp", "n_dup_docs")),
      "columns _fp/n_dup_docs are reserved by corpusCard")
    val fp = fingerprint(col(textCol))
    val dupFps = docs.where(col(textCol).isNotNull)
      .groupBy(fp.as("_fp")).agg(count(lit(1)).as("_n"))
      .where(col("_n") > 1)
      .select(col("_fp"))
    val flagged = docs
      .withColumn("_fp", when(col(textCol).isNotNull, fp))
      .join(dupFps, Seq("_fp"), "left_semi")
      .groupBy(col(labelCol)).agg(count(lit(1)).as("n_dup_docs"))
    docs
      .groupBy(col(labelCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(textCol).isNull.cast("long")).as("n_null_text"),
        countDistinct(col(langCol)).as("n_langs"),
        sum(coalesce(length(col(textCol)), lit(0L))).as("sum_chars"),
        sum(coalesce(tokenCount(col(textCol)), lit(0L))).as("sum_tokens"))
      .join(flagged, Seq(labelCol), "left")
      .withColumn("n_dup_docs", coalesce(col("n_dup_docs"), lit(0L)))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid
    * retrieval combiner (BM25 ∪ ANN ∪ recency priors in modern RAG
    * stacks): each system contributes `1000 div (rrfK + rank)` points
    * per document (the integer-permille form of 1/(k+rank) — truncating
    * division keeps the gate bit-exact; ORDERING matches the float form
    * whenever point totals differ by ≥ 1), summed across systems, top-N
    * by (score desc, id). Rankings arrive as `(idCol, rank)` frames
    * (rank 1-based, any extra columns ignored); documents absent from a
    * system simply contribute nothing — no outer-join NULL handling.
    *
    * Scale shape: rankings are top-k-sized by construction (each system
    * already truncated), so the union + hash agg + heap top-N all run
    * on k·systems rows — independent of corpus size.
    *
    * Returns `(idCol, rrf_score, n_systems)`.
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      rrfK: Int = 60,
      topN: Int = 20,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(rrfK > 0 && topN > 0, s"rrfK and topN must be positive, got $rrfK/$topN")
    rankings
      .map(r => r.select(col(idCol), col("rank").cast("long").as("_rank")))
      .reduce(_ unionByName _)
      .select(col(idCol), expr(s"1000 div ($rrfK + _rank)").as("_pts"))
      .groupBy(col(idCol))
      .agg(sum(col("_pts")).as("rrf_score"), count(lit(1)).as("n_systems"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topN)
  }

  /** Dataset-overlap matrix between corpus slices (sources, dumps,
    * languages): for every pair of `labelCol` values, a KMV-estimated
    * token-vocabulary Jaccard — the cheap first answer to "how much do
    * these two crawls share?" before committing to a full cross-dedup.
    * Per label ONE bounded sketch (k smallest md5-derived token hashes,
    * via the `kmv_agg` buffer — the corpus shuffles ≤ k values per label
    * per partition, never its vocabulary), then the theta-sketch
    * intersection over the label-pair self-join, which is
    * labels²-sized — independent of corpus size.
    *
    * The token hash is the first 15 md5 hex digits as an integer — both
    * engines evaluate `md5` identically on UTF-8 and 60 bits keep the
    * parse exact in a long, so the sketch STATE replays bit-exactly
    * cross-engine (the string analog of [[graft.ext.Graph.replayableHash]]).
    * Outputs stay integral (sizes and a truncating-division permille);
    * the float estimates live in [[graft.ext.Sketches.kmvJaccardCol]]
    * for callers that want them.
    *
    * Returns `(label_a, label_b, sketch_union, n_common, jacc_permille)`
    * for label_a < label_b.
    */
  def sourceOverlapKmv(
      docs: DataFrame,
      k: Int = 128,
      labelCol: String = "source",
      textCol: String = "text"
  ): DataFrame = {
    val toks = docs
      .where(col(textCol).isNotNull && col(labelCol).isNotNull)
      .select(col(labelCol).as("label"),
        explode(tokens(col(textCol))).as("tok"))
    val hv = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
    val sk = Sketches.kmvSketchPerGroup(
      toks.select(col("label"), hv.as("hv")), Seq("label"), "hv", k,
      hashCol = Some(col("hv")))
    val a = sk.select(col("label").as("label_a"), col("kmv").as("_ka"))
    val b = sk.select(col("label").as("label_b"), col("kmv").as("_kb"))
    val merged = Sketches.kmvMergeCol(col("_ka"), col("_kb"), k)
    a.join(b, col("label_a") < col("label_b"))
      .withColumn("_m", merged)
      .withColumn("sketch_union", size(col("_m")).cast("long"))
      .withColumn("n_common",
        Sketches.kmvCommonCol(col("_ka"), col("_kb"), col("_m")).cast("long"))
      .select(col("label_a"), col("label_b"), col("sketch_union"), col("n_common"),
        expr("(1000 * n_common) div sketch_union").as("jacc_permille"))
  }

  /** HTML → text extraction (the crawl-pipeline step upstream of every
    * quality/dedup operator: WET-file generation, trafilatura's ancestor).
    * Pure columnar regex chain, pinned replayable cross-engine (Java
    * regex and DuckDB's RE2 agree on every construct used here — inline
    * `(?is)` flags and non-greedy `.*?`; NO backreferences, which RE2
    * lacks, hence separate script/style passes):
    *
    *  1. drop `<script>…</script>` and `<style>…</style>` blocks whole
    *     (their content is code, not text — tag-stripping alone would
    *     leak it into the corpus),
    *  2. drop HTML comments `<!-- … -->`,
    *  3. every remaining tag → one space (so `a<br>b` keeps its word
    *     boundary),
    *  4. decode the six entities that survive in text corpora
    *     (`&lt; &gt; &quot; &#39; &nbsp;`, and `&amp;` LAST so
    *     `&amp;lt;` decodes to the literal `&lt;` exactly once — the
    *     HTML5 double-escape rule),
    *  5. collapse whitespace runs and trim.
    *
    * 100 TB shape: per-row map transform, no shuffle, no UDF — scales
    * with the scan.
    */
  def extractHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = replace(
      replace(
        replace(
          replace(
            replace(replace(noTags, lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
            lit("&quot;"), lit("\"")),
          lit("&#39;"), lit("'")),
        lit("&nbsp;"), lit(" ")),
      lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** `<title>` text of an HTML page (first title tag, tags inside kept
    * verbatim — titles are plain text in practice), or NULL-equivalent
    * empty string when absent. Same cross-engine regex constraints as
    * [[extractHtml]].
    */
  def extractHtmlTitle(html: Column): Column =
    regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1)

  /** Gopher-style document quality rules (Rae et al. 2021, table A1 —
    * the standard pre-training heuristic filter battery). One boolean
    * column per rule plus the conjunction `keep`; every comparison is
    * INTEGER (ratio thresholds are cross-multiplied: `mean word length
    * in [3,10]` becomes `3·n ≤ Σlen ≤ 10·n`) so the gate is bit-exact
    * cross-engine with no float division anywhere.
    *
    * Rules (empty/whitespace-only text fails all):
    *  - `r_word_count`:   50 ≤ words ≤ 100 000
    *  - `r_mean_word_len`: mean token length in [3, 10]
    *  - `r_hash_ellipsis`: (# '#' + # '…') ≤ 10% of words
    *  - `r_bullet_lines`:  lines starting with a bullet < 90% of lines
    *  - `r_ellipsis_lines`: lines ending in …/... < 30% of lines
    *  - `r_alpha_words`:   words containing a letter ≥ 80%
    *  - `r_stopwords`:     ≥ 2 stopword hits (of [[Stopwords]])
    *
    * 100 TB shape: pure per-row columnar arithmetic, no shuffle, no UDF.
    */
  def gopherRules(text: Column): Column = {
    val tk = tokens(text)
    val nWords = size(tk).cast("long")
    val sumLen = aggregate(tk, lit(0L), (acc, t) => acc + length(t))
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines,
      l => trim(l).rlike("^[-*•]"))).cast("long")
    val ellipsisLines = size(filter(lines,
      l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("long")
    val hashEllipsis =
      (size(regexp_extract_all(text, lit("[#…]"), lit(0)))).cast("long")
    val alphaWords = size(filter(tk, t => t.rlike("[a-z]"))).cast("long")
    val stopHits = size(filter(tk,
      t => array_contains(lit(Stopwords.toArray), t))).cast("long")
    val nonEmpty = nWords > 0
    struct(
      (nonEmpty && nWords >= 50 && nWords <= 100000L).as("r_word_count"),
      (nonEmpty && sumLen >= nWords * 3 && sumLen <= nWords * 10).as("r_mean_word_len"),
      (nonEmpty && hashEllipsis * 10 <= nWords).as("r_hash_ellipsis"),
      (nonEmpty && bulletLines * 10 < nLines * 9).as("r_bullet_lines"),
      (nonEmpty && ellipsisLines * 10 < nLines * 3).as("r_ellipsis_lines"),
      (nonEmpty && alphaWords * 10 >= nWords * 8).as("r_alpha_words"),
      (nonEmpty && stopHits >= 2).as("r_stopwords"))
  }

  /** [[gopherRules]] over a corpus frame: per-rule booleans flattened to
    * columns plus the conjunction `keep`.
    */
  def gopherFilter(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val r = gopherRules(col(textCol))
    val names = Seq("r_word_count", "r_mean_word_len", "r_hash_ellipsis",
      "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words", "r_stopwords")
    val flat = names.foldLeft(docs.withColumn("_r", r)) {
      (d, n) => d.withColumn(n, col("_r").getField(n))
    }
    flat
      .withColumn("keep", names.map(col).reduce(_ && _))
      .drop("_r")
  }

  /** Convenience: annotate a corpus with the full analysis column set. */
  def annotate(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("token_count", tokenCount(t))
      .withColumn("bpe_token_count", bpeTokenCount(t))
      .withColumn("punct_ratio", round(punctRatio(t), 4))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 4))
      .withColumn("quality_score", qualityScore(t))
      .withColumn("lang_id", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** N-gram novelty — the memorization/duplication-pressure signal per
    * document: what fraction (permille) of a document's DISTINCT word
    * n-grams appear in NO other document of the corpus. Templated,
    * boilerplate-heavy or near-duplicated documents score low; unique
    * prose scores high. The inverse view of the dedup family: instead of
    * finding the copies, it scores how much of each document is its own.
    *
    * Scale shape: one corpus scan explodes distinct per-doc n-grams
    * (`word_shingles`-style set semantics via array_distinct), ONE hash
    * agg builds the gram → document-frequency table (vocabulary-bounded,
    * map-side combined), and the gram stream joins back against it —
    * shuffles keyed on the gram text, linear in total distinct-gram
    * occurrences, never corpus-quadratic. Integer permille
    * (`1000·novel div distinct`) — engine-replayable, no float division.
    *
    * Returns `(idCol, n_distinct_grams, n_novel, novelty_permille)`;
    * docs with no n-grams (NULL/empty text) are absent.
    */
  def ngramNovelty(
      docs: DataFrame,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // Token array materialized as a COLUMN before the gram transform:
    // a lambda body referencing the raw tokens EXPRESSION would
    // re-evaluate the whole split/filter per gram position (interpreted
    // higher-order functions bind only their lambda variables), and the
    // gram build spreads across the cluster first — the blocklistHits/
    // contentChunks lessons applied. Output bit-identical to
    // `wordNgrams(text, n)` (pinned by the gate's oracle).
    val tk = col("_tk")
    val gramArr =
      when(size(tk) === 0, array().cast("array<string>"))
        .when(size(tk) < n, array(concat_ws(" ", tk)))
        .otherwise(transform(sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(tk, (i + (k + 1)).cast("int"))): _*)))
    val grams = docs.where(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("_t"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), tokens(col("_t")).as("_tk"))
      .select(col(idCol), explode(array_distinct(gramArr)).as("g"))
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("_df"))
    grams.join(df, Seq("g"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_distinct_grams"),
        sum((col("_df") === 1).cast("long")).as("n_novel"))
      .withColumn("novelty_permille", expr("(1000 * n_novel) div n_distinct_grams"))
  }
}
