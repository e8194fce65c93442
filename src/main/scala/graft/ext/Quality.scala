package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations (the Deequ / dbt-test / Great
  * Expectations surface a production pipeline wraps around every ingest):
  * a rule set is evaluated into one report row per rule —
  * `(rule, violations, checked)` — with the scan work shaped for 100 TB:
  *
  *  - every ROW-LEVEL rule (not-null, range, set, regex, predicate), every
  *    UNIQUE rule's `(count, distinct-key-count)` pair, and every FK's
  *    checked-count fuse into ONE aggregate over ONE scan of the table,
  *    each a counter with map-side partial combine — adding a rule adds
  *    counters, never a pass (a Unique's violations = rows in excess of
  *    their key's first occurrence);
  *  - a FOREIGN-KEY rule additionally runs one left-anti join against the
  *    parent's projected key (AQE broadcasts dimension-sized parents),
  *    counting child rows whose non-NULL key has no parent — SQL FK
  *    semantics: NULL keys are not violations (use NotNull to forbid
  *    them).
  *
  * Reports are deterministic (counts only, no sampled examples) so runs
  * are comparable across engines and cluster sizes; each rule row carries
  * `checked` (rows the rule applied to) so a violation count can be read
  * as a rate. Rules never throw on dirty data — dirty data is the
  * expected input; gating/alerting is the caller's policy.
  */
object Quality {

  sealed trait Rule { def name: String }

  /** Column must be non-NULL. */
  final case class NotNull(column: String) extends Rule {
    val name = s"not_null($column)"
  }

  /** Non-NULL values must fall in [lo, hi] (inclusive). NULLs are not
    * checked (compose with [[NotNull]] to forbid them).
    */
  final case class InRange(column: String, lo: Double, hi: Double) extends Rule {
    val name = s"in_range($column,$lo,$hi)"
  }

  /** Non-NULL values must be one of `values`. The value set is part of the
    * rule name so two InSet rules on one column stay distinct report rows;
    * `|` inside a value is escaped so Seq("A|B") and Seq("A","B") cannot
    * mangle to the same name.
    */
  final case class InSet(column: String, values: Seq[String]) extends Rule {
    val name = s"in_set($column,${values.map(_.replace("\\", "\\\\").replace("|", "\\|")).mkString("|")})"
  }

  /** Non-NULL values must match the (RE2-safe) regex; the regex is part of
    * the rule name (two Matches on one column stay distinct report rows).
    */
  final case class Matches(column: String, regex: String) extends Rule {
    val name = s"matches($column,$regex)"
  }

  /** Arbitrary row predicate; rows where it evaluates false or NULL are
    * violations (a constraint that cannot be evaluated is not satisfied).
    * `label` is the rule's identity — two predicates need distinct labels
    * (enforced by [[check]]).
    */
  final case class Predicate(label: String, holds: Column) extends Rule {
    val name = s"predicate($label)"
  }

  /** The key column set must identify rows uniquely. `violations` counts
    * the EXCESS rows (n − distinct keys): 0 means unique, and the count
    * is how many rows a perfect dedup would drop. NULLs participate as
    * key values (two NULL-keyed rows collide), matching groupBy.
    */
  final case class Unique(columns: Seq[String]) extends Rule {
    val name = s"unique(${columns.mkString(",")})"
  }

  /** Every non-NULL child key must exist in the parent's key column. Two
    * FKs from one column to DIFFERENT parents sharing a key-column name
    * still collide on `name` — [[check]] rejects that loudly.
    */
  final case class ForeignKey(column: String, parent: DataFrame, parentColumn: String) extends Rule {
    val name = s"foreign_key($column->$parentColumn)"
  }

  /** Evaluate all rules; returns the `(rule, violations, checked)` report
    * ordered by rule name.
    *
    * Execution contract: `check` runs EXACTLY ONE scan of `df` — every
    * row-level counter, every Unique's `(count, count-distinct-key)`
    * pair, and every FK's checked-count fuse into a single aggregation —
    * plus one anti-join job per ForeignKey rule (a join cannot fuse into
    * the scan). The jobs run when `check` is called (not lazily on the
    * returned frame — the report is rule-count-sized local data; deferring
    * it would re-run the scan once per downstream consumer).
    */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "Quality.check needs at least one rule")
    // Rule names are both the fused-agg aliases and the report keys — a
    // duplicate would silently attribute the second rule's counts to the
    // first (Row.getAs resolves the first matching alias).
    locally {
      val dup = rules.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
      require(dup.isEmpty,
        s"duplicate rule name(s): ${dup.mkString(", ")} — give each rule a distinct identity")
    }
    val spark = df.sparkSession
    import spark.implicits._

    val rowRules: Seq[(String, Column, Column)] = rules.collect {
      // (name, applicable?, violated?) — violated implies applicable
      case r @ NotNull(c) =>
        (r.name, lit(true), col(c).isNull)
      case r @ InRange(c, lo, hi) =>
        (r.name, col(c).isNotNull,
          col(c).isNotNull && !(col(c).cast("double") >= lo && col(c).cast("double") <= hi))
      case r @ InSet(c, vs) =>
        (r.name, col(c).isNotNull, col(c).isNotNull && !col(c).isInCollection(vs))
      case r @ Matches(c, re) =>
        (r.name, col(c).isNotNull, col(c).isNotNull && !col(c).rlike(re))
      case r @ Predicate(_, p) =>
        (r.name, lit(true), !coalesce(p, lit(false)))
    }
    val uniqueRules = rules.collect { case r: Unique => r }
    val fkRules = rules.collect { case r: ForeignKey => r }

    val aggs =
      rowRules.flatMap { case (n, app, vio) =>
        Seq(sum(vio.cast("long")).as(s"v:$n"), sum(app.cast("long")).as(s"c:$n"))
      } ++
        uniqueRules.flatMap { r =>
          // count(DISTINCT struct(keys)): the struct itself is never NULL,
          // so NULL key VALUES participate as distinct combinations —
          // identical to groupBy-count semantics
          Seq(count(lit(1)).as(s"un:${r.name}"),
            count_distinct(struct(r.columns.map(col).toIndexedSeq: _*)).as(s"ud:${r.name}"))
        } ++
        fkRules.map(r => sum(col(r.column).isNotNull.cast("long")).as(s"fc:${r.name}"))

    // The fused row-level aggregate and the per-FK orphan anti-joins are
    // INDEPENDENT actions over the same input — run the FK counts on
    // background threads while the fused agg runs on this one (guide
    // §2.6: actions are only sequential because the driver calls them
    // sequentially; each job's stage tail back-fills the other's cores).
    // Every job is joined before a failure propagates.
    val (orphans, fusedRow) = graft.tables.SnapshotTable.inParallel(
      graft.tables.SnapshotTable.allConcurrently(fkRules.map { r => () =>
        df.select(col(r.column).as("_fk")).where(col("_fk").isNotNull)
          .join(r.parent.select(col(r.parentColumn).as("_fk")).distinct(), Seq("_fk"), "left_anti")
          .count()
      }),
      if (aggs.isEmpty) None else Some(df.agg(aggs.head, aggs.tail: _*).head()))
    def g(n: String): Long = fusedRow
      .flatMap(r => Option(r.getAs[Any](n))).map(_.asInstanceOf[Long]).getOrElse(0L)

    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    rowRules.foreach { case (n, _, _) => out += ((n, g(s"v:$n"), g(s"c:$n"))) }
    uniqueRules.foreach { r => out += ((r.name, g(s"un:${r.name}") - g(s"ud:${r.name}"), g(s"un:${r.name}"))) }
    fkRules.zip(orphans).foreach { case (r, n) => out += ((r.name, n, g(s"fc:${r.name}"))) }
    out.toSeq.toDF("rule", "violations", "checked").orderBy(col("rule"))
  }

  /** K-anonymity suppression — the release-gate primitive of privacy
    * pipelines (Sweeney 2002; the suppression step of k-anonymization):
    * drop every row whose quasi-identifier combination occurs fewer than
    * `k` times, so no released row is identifiable within a group
    * smaller than k. NULL-safe: NULL is a quasi-identifier VALUE (two
    * NULL-city rows are the same group — `groupBy` gives SQL's
    * grouping-equality semantics for free, which is exactly the
    * k-anonymity requirement; plain-join NULL semantics would leak every
    * NULL-keyed row as its own singleton).
    *
    * Plan: one hash aggregation over the quasi columns (map-side
    * combined, group-cardinality-sized shuffle) + one equi-join of the
    * surviving group keys back to the rows. Groups table ≪ rows at any
    * realistic k; AQE broadcasts it when small. Never a window over the
    * full table (a `count() over (partition by quasi)` would sort whole
    * partitions to tag each row).
    */
  def suppressRareGroups(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "k-anonymity needs at least one quasi-identifier column")
    require(k >= 1, s"k must be >= 1, got $k")
    val bigEnough = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("_n")).where(col("_n") >= k)
      .select(quasiCols.map(c => col(c).as(s"_q_$c")): _*)
    // the join must be NULL-SAFE (<=>) to agree with groupBy's grouping
    // equality — a USING join would drop every NULL-keyed row as if its
    // group were a singleton, regardless of the group's real size
    val cond = quasiCols.map(c => col(c) <=> col(s"_q_$c")).reduce(_ && _)
    df.join(bigEnough, cond, "left_semi")
  }

  /** Distinct l-diversity enforcement (Machanavajjhala et al. 2007) — the
    * homogeneity-attack complement to [[suppressRareGroups]]: a group can
    * be k-anonymous and still reveal every member's sensitive value when
    * all rows in it share one. Keep only rows whose quasi-identifier group
    * holds at least `l` DISTINCT values of the sensitive column; a NULL
    * sensitive value counts as one value of its own (grouping-equality
    * semantics, matching the NULL-safe quasi grouping — SQL's
    * count(DISTINCT) would silently ignore it and under-count diversity).
    *
    * Plan: one exact count-distinct aggregation (Spark expands it to two
    * hash aggregations, both map-side combined, shuffled on the group
    * key) + the same NULL-safe semi-join back to the rows as k-anonymity
    * — group keys ≪ rows, so AQE broadcasts; never a window over the
    * full table.
    */
  def enforceLDiversity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "l-diversity needs at least one quasi-identifier column")
    require(l >= 1, s"l must be >= 1, got $l")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    val diverse = df.groupBy(quasiCols.map(col): _*)
      .agg((countDistinct(col(sensitiveCol)) +
        max(when(col(sensitiveCol).isNull, 1L).otherwise(0L))).as("_l"))
      .where(col("_l") >= l)
      .select(quasiCols.map(c => col(c).as(s"_q_$c")): _*)
    val cond = quasiCols.map(c => col(c) <=> col(s"_q_$c")).reduce(_ && _)
    df.join(diverse, cond, "left_semi")
  }

  /** Keyed pseudonymization: replace identifier columns with
    * SHA-256(salt ‖ value) hex tokens. The same (salt, value) maps to the
    * same token EVERYWHERE — referential integrity across tables survives
    * the redaction, which is what separates pseudonymization from
    * dropping the column (GDPR art. 4(5) pseudonymisation; the salt is
    * the re-identification key and must be managed outside the data).
    * NULLs stay NULL. Map-only columnar sha2 — one scan, codegen'd, no
    * UDF; at 100 TB the cost is the scan.
    */
  def pseudonymize(df: DataFrame, cols: Seq[String], salt: String): DataFrame = {
    require(cols.nonEmpty, "pseudonymize needs at least one column")
    require(salt.nonEmpty, "an empty salt makes tokens dictionary-attackable; supply a keyed salt")
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).isNotNull, sha2(concat(lit(salt), col(c).cast("string")), 256)))
    }
  }
}
