package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin._

/** Blocked record linkage (Fellegi & Sunter 1969, the candidate +
  * field-agreement half): probable-duplicate pairs of STRUCTURED
  * records scored by integer field-agreement weights — the
  * entity-resolution step master-data pipelines run before any merge.
  * The text twin is [[graft.ext.Dedup.editDistancePairs]] (x111); this
  * operator is its structured-record sibling and shares the blocking
  * contract.
  *
  * Blocking: records group by (hard key, numeric band); every record
  * probes its own band and band+1, so pairs straddling a band boundary
  * still meet ([[graft.ext.Dedup.editDistancePairs]]'s scheme,
  * candidates == all same-key pairs with |band diff| <= 1). The numeric
  * value is SHIFTED positive before banding: Spark's `DIV` truncates
  * toward zero while DuckDB's `//` floors, so negative bands would
  * diverge between engine and oracle — positive bands make the two
  * identical.
  *
  * Hot blocks (> `maxBlock` probe rows) are dropped WHOLE — identical
  * contract to x111's band cap: a block that dense means the blocking
  * key does not discriminate, and all-pairs inside it is the quadratic
  * work blocking exists to avoid. The oracle mirrors the cap.
  *
  * 100 TB posture (restructured round 18 — the r17 form paid a
  * localCheckpoint with three consumers plus a pair-granularity
  * `distinct`, 31× the oracle wall at sf1): one probe-table union (2×
  * the records; the base scan is cheap enough to compute per consumer
  * — a checkpoint would WRITE the whole probe table to executor disk
  * at scale), a combinable block-count aggregate joined back as the
  * guard with NO broadcast hint (round 18: the counts table has
  * block cardinality, which grows with the corpus — a forced
  * broadcast would build an unbounded driver-side table at 100 TB;
  * AQE broadcasts it while small and shuffles it when not), one
  * equi-join on (key, band) bounded by maxBlock² per block, and
  * duplicate elimination BY CONSTRUCTION instead of `distinct`: the
  * double-probe scheme meets a same-band pair in both its own block
  * and the band+1 block, so each pair carries its members' origin
  * bands and a pair of shifted copies survives only when the origin
  * block was hot (i.e. the pair could NOT have met at home) — exactly
  * the set `distinct` kept, with zero extra shuffle. Scores are
  * integer conditional ladders; the top-k cut is
  * TakeOrderedAndProject.
  */
object RecordLinkage {

  /** Candidate pairs of `df` records with integer agreement scores.
    * `hard` must agree exactly (blocking key); `cents` is the numeric
    * compare field (banded, proximity-scored); `seg` is a categorical
    * compare field. Score = 40·[seg equal] + (50 if |Δcents| <= tight,
    * 20 if <= loose, else 0); tiers: >= 70 match, >= 40 possible, else
    * weak. Output: (id_a, id_b, score, tier) — top `k` by (score DESC,
    * id_a, id_b). */
  def linkPairs(df: DataFrame, id: Column, hard: Column, cents: Column,
      seg: Column, tight: Long = 2000L, loose: Long = 10000L,
      shift: Long = 100000L, maxBlock: Int = 256, k: Int = 100): DataFrame = {
    require(tight <= loose && loose >= 1, s"tight=$tight loose=$loose")
    require(maxBlock >= 2 && k >= 1, s"maxBlock=$maxBlock k=$k")
    val base = df.select(id.cast("long").as("k"), hard.as("nat"),
      seg.as("seg"), cents.cast("long").as("cents"))
      .withColumn("band", expr(s"(cents + ${shift}L) DIV ${loose}L"))
    // each probe row remembers its ORIGIN band `ob` (= the record's own
    // band): the pair-dedup rule below needs to know whether a meeting
    // happened "at home" or in the band+1 shadow copy
    // both probe copies (home band + band+1 shadow) explode from ONE
    // pass over the scan (round 18) — the two-arm union embedded the
    // scan + projection under both arms
    val probes = base
      .select(col("k"), col("nat"), col("seg"), col("cents"),
        col("band").as("ob"),
        explode(array(col("band"), col("band") + 1)).as("band"))
    // block-size guard as a combinable count + join, not a count-over
    // window (round 14) and NOT broadcast-hinted (round 18): the table
    // is block-cardinality — unbounded at 100 TB — so AQE picks the
    // strategy. Each row also picks up its ORIGIN block's count `on`
    // (for the shifted copy of a record, the count of the block it came
    // from — the inner join is total: the origin block always contains
    // at least the record's own home copy).
    val blockCounts = probes.groupBy("nat", "band")
      .agg(count(lit(1)).as("__n"))
    // PIN the pair-join width (round 18, tools/StageProbe-measured: the
    // whole query ran as 12 tasks at sf1 — AQE coalesces the tiny
    // probe shuffle to ~1 partition because it prices the join by its
    // INPUT bytes, but the join's OUTPUT is the maxBlock²-bounded pair
    // expansion, orders of magnitude larger). An explicit
    // repartition-by-num on the join key is exempt from AQE
    // coalescing and feeds both sides of the self-join exchange-free.
    val width = df.sparkSession.sparkContext.defaultParallelism
    val guarded = probes.join(blockCounts, Seq("nat", "band"))
      .where(col("__n") <= maxBlock).drop("__n")
      .join(blockCounts.select(col("nat"), col("band").as("ob"),
        col("__n").as("on")), Seq("nat", "ob"))
      .repartition(width, col("nat"), col("band"))
    val l = guarded.select(col("nat"), col("band"), col("k").as("id_a"),
      col("seg").as("seg_a"), col("cents").as("c_a"),
      col("ob").as("ob_a"), col("on").as("on_a"))
    val r = guarded.select(col("nat"), col("band"), col("k").as("id_b"),
      col("seg").as("seg_b"), col("cents").as("c_b"),
      col("ob").as("ob_b"))
    // dedup BY CONSTRUCTION (replaces the r17 pair-granularity
    // distinct, value-identical): keep a meeting when either member is
    // at home in this block (covers same-band pairs at home and every
    // cross-band pair, which only ever meets once), or when BOTH are
    // shifted copies AND their shared origin block was hot — the one
    // case where the home meeting was guard-dropped and the shadow
    // meeting is the pair's only chance (the r17 `distinct` kept it;
    // a plain both-shifted drop would lose it). `on_a` suffices: both
    // shifted members share (nat, ob), hence the same origin count.
    val guard = col("ob_a") === col("band") || col("ob_b") === col("band") ||
      col("on_a") > maxBlock
    l.join(r, Seq("nat", "band")).where(col("id_a") < col("id_b") && guard)
      .select(col("id_a"), col("id_b"),
        (col("seg_a") === col("seg_b")).as("seg_eq"),
        abs(col("c_a") - col("c_b")).as("d"))
      .select(col("id_a"), col("id_b"),
        (when(col("seg_eq"), 40).otherwise(0) +
          when(col("d") <= tight, 50).when(col("d") <= loose, 20).otherwise(0))
          .cast("int").as("score"))
      .withColumn("tier",
        when(col("score") >= 70, "match")
          .when(col("score") >= 40, "possible").otherwise("weak"))
      .orderBy(col("score").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Pseudonymization audit: re-key an id with a salted hash and prove,
    * in one row per edge, that the release is SAFE (collision count —
    * two ids mapping to one pseudonym silently merges people) and
    * USEFUL (the child join's exact cardinality under raw vs pseudo
    * keys, via key-histogram products — the join a downstream consumer
    * runs must return the same rows). The governance gate between
    * "hashed the column" and "shipped the dataset".
    *
    * Plan: key-cardinality aggregates only — the parent distinct, two
    * histogram joins; child facts never shuffle raw rows. Output:
    * (n_keys, n_pseudo, n_collisions, join_rows_raw, join_rows_pseudo,
    * join_diff). */
  def pseudonymizeAudit(parent: DataFrame, parentKey: Column,
      child: DataFrame, childKey: Column, salt: String): DataFrame = {
    def pseudo(c: Column): Column =
      substring(md5(concat(lit(salt), lit(":"), c.cast("string"))), 1, 16)
    val p = parent.select(parentKey.cast("long").as("k")).distinct()
      .pin()
    val keys = p.agg(count(lit(1)).as("n_keys"))
    val pseu = p.select(pseudo(col("k")).as("pk"))
      .agg(count_distinct(col("pk")).as("n_pseudo"))
    val ch = child.select(childKey.cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .pin()
    val rawJoin = ch.join(p, Seq("k"), "left_semi")
      .agg(coalesce(sum(col("c")), lit(0L)).as("join_rows_raw"))
    val pseudoJoin = ch.select(pseudo(col("k")).as("pk"), col("c"))
      .groupBy("pk").agg(sum(col("c")).as("c"))
      .join(p.select(pseudo(col("k")).as("pk")).distinct(), Seq("pk"), "left_semi")
      .agg(coalesce(sum(col("c")), lit(0L)).as("join_rows_pseudo"))
    keys.crossJoin(broadcast(pseu))
      .crossJoin(broadcast(rawJoin))
      .crossJoin(broadcast(pseudoJoin))
      .select(col("n_keys"), col("n_pseudo"),
        (col("n_keys") - col("n_pseudo")).as("n_collisions"),
        col("join_rows_raw"), col("join_rows_pseudo"),
        (col("join_rows_pseudo") - col("join_rows_raw")).as("join_diff"))
  }
}
