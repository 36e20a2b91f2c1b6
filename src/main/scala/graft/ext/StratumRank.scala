package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin._

/** Two-phase per-stratum rank / running sum — the shared scale-safe
  * replacement for every `OVER (PARTITION BY stratum ORDER BY ...)`
  * whose stratum is LOW-cardinality (sources, languages, log2 bins,
  * cohorts, days): a plain window there caps the rank's parallelism at
  * the stratum cardinality, so a fat stratum over a 100 TB corpus sorts
  * multi-TB in a single task. Round 14 generalizes the idiom the repo
  * already used in `Batching.withBatches` / `Profile.globalRank` /
  * `Sampling.stratumHashRank` so ONE implementation carries the whole
  * family: x48/x249 (hash rank), x89 (token-budget cumsum), x97/x98
  * (curriculum/quantile ranks), x103/x126/x156 (order-statistic
  * quantiles), x128 (MAD medians), x163 (allocation rank), x164
  * (weighted-median cumsum).
  *
  * Decomposition (value-identical to the single window when `order` is
  * a total order; rank-permutation-identical under ties, which keeps
  * every position-pick `rn = pos` value-stable because tied rows share
  * the ordering value):
  *
  *   1. ONE range-partitioned sort on (stratum-shadow, order...) — a
  *      fat stratum SPANS partitions instead of landing in one task;
  *   2. per-(partition, stratum) weight totals to the driver
  *      (O(partitions × strata) rows, loud refusal past 2^20 — the
  *      helper is FOR low-cardinality strata; user-keyed windows
  *      should stay hash windows, see `lowCardStrata` call sites);
  *   3. broadcast prefix offsets;
  *   4. a (partition, stratum)-local window + offset add.
  *
  * Strata are bookkept by an injective string shadow ("n:" for NULL,
  * "v:" + canonical string otherwise) so a NULL stratum is its own
  * group (SQL PARTITION BY semantics) and real values cannot collide
  * with the sentinel. Order columns are ranked ASC NULLS LAST —
  * DuckDB/ANSI's default, pinned explicitly because Spark's ASC is
  * nulls-first; callers with nullable order keys get the
  * engine-portable order.
  *
  * CALLER CONTRACT for `stratum` / `order` / `weight` (round 19,
  * advisor note): pass NAME-based columns (`col("x")`) or expressions
  * over them — the `__s` output is re-projected from the input columns
  * AFTER the pipeline, so the expression must be DETERMINISTIC and
  * resolvable against the input frame's column names (a plan-bound
  * `df("x")` from a DIFFERENT frame fails analysis; a non-deterministic
  * stratum would disagree with the pre-sort grouping). Every registered
  * caller passes deterministic name-based columns.
  *
  * `localCheckpoint` pins ONE sort: the offsets job and the rank job
  * must see identical partition boundaries (range boundaries are
  * sampled — nondeterministic across jobs).
  */
object StratumRank {

  /** Rank rows 1..n within `stratum` by `order` (asc nulls last).
    * Output: input columns + `__s` (the stratum value) + `__rn` (LONG),
    * plus — when `withTotal` — `__cs` (LONG, the stratum's TOTAL row
    * count). The total is FREE: the offsets table the decomposition
    * already collects at the driver knows every stratum's final running
    * sum, so it rides the existing broadcast join — quantile/median
    * callers previously paid a whole extra pass over the input for
    * exactly this number (round 18). Equivalent to `row_number() OVER
    * (PARTITION BY stratum ORDER BY order...)` with ANSI nulls-last, at
    * cluster-partition parallelism. */
  def rank(df: DataFrame, stratum: Column, order: Seq[Column],
      withTotal: Boolean = false): DataFrame =
    twoPhase(df, stratum, order, lit(1L), "__rn", withTotal)

  /** Inclusive running sum of `weight` within `stratum` by `order`
    * (asc nulls last; pass a TOTAL order — ties would make per-row
    * running sums order-dependent). Output: input + `__s` + `__cum`,
    * plus `__cs` (the stratum's total weight) when `withTotal`. */
  def cumsum(df: DataFrame, stratum: Column, order: Seq[Column],
      weight: Column, withTotal: Boolean = false): DataFrame =
    twoPhase(df, stratum, order, weight.cast("long"), "__cum", withTotal)

  /** Prune-to-existing-column probe (round 18): callers almost always
    * pass plain references to columns the frame ALREADY carries
    * (`col("v")`, `col("cnt")`) — materializing a bookkeeping copy of
    * each (`__o0`, `__w`, `__s`) doubled the checkpointed cache
    * (StageProbe, x128: 165 bytes/row, three duplicated columns of
    * which two strings) and every one of the 3–4 downstream passes
    * re-paid the width. A Column is prunable when its expression is a
    * bare (1-part, unambiguous) attribute of `df` — or a no-op
    * LONG-to-LONG cast of one, which is exactly what [[cumsum]]'s
    * defensive `.cast("long")` produces over an already-long weight. */
  private def existingCol(df: DataFrame, c: Column): Option[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression}
    import org.apache.spark.sql.types.LongType
    def attrName(e: Expression): Option[String] = e match {
      case UnresolvedAttribute(parts) if parts.length == 1 => Some(parts.head)
      case a: AttributeReference => Some(a.name)
      case c2: Cast if c2.dataType == LongType =>
        attrName(c2.child)
          .filter(n => df.columns.count(_ == n) == 1 &&
            df.schema(n).dataType == LongType)
      case _ => None
    }
    // catalystExpression, not expression: Spark 4 wraps `col(...)`-built
    // columns in an opaque ColumnNodeExpression, which made this probe
    // return None for every plain reference (round-19 find: the r18
    // "pruned" callers still materialized __w/__o0 — the prune only ever
    // fired for plan-lifted columns). Name matching is CASE-SENSITIVE
    // (Spark resolution is case-insensitive by default): a `col("CNT")`
    // over a `cnt` column falls back to materializing — correct, just
    // silently unpruned (advisor note, round 18).
    attrName(org.apache.spark.sql.GraftSqlBridge.catalystExpression(c))
      .filter(n => df.columns.count(_ == n) == 1)
  }

  /** Shared phase 1–2 of the decomposition: ONE range-partitioned sort
    * on (stratum-shadow, order...), lazily checkpointed, plus the
    * driver-side (partition, stratum, cell weight) table — grouped by
    * stratum, partitions ascending within each. Used by [[twoPhase]]
    * (full rank/cumsum output) and [[pickAtPositions]] (driver-planned
    * position picks). Returns (sorted frame, weight column name,
    * cells). */
  private final case class SortedOffsets(
      sorted: DataFrame,          // the checkpointed range sort (+ __sk, _pid, materialized bookkeeping)
      wName: String,              // weight column name inside `sorted`
      oMatNames: Seq[String],     // bookkeeping order columns that had to be materialized
      counts: Array[(Int, String, Long)]) // (pid, stratum shadow, cell weight), grouped by stratum, pids ascending

  private def sortAndOffsets(df: DataFrame, stratum: Column,
      order: Seq[Column], weight: Column, reservedOut: Seq[String])
      : SortedOffsets = {
    require(order.nonEmpty, "StratumRank: order columns required")
    // the internal bookkeeping columns are added via withColumn, which
    // silently REPLACES same-named caller columns — a frame already
    // carrying e.g. __s or _pid would get corrupted ranks with no error
    val reserved = Set("__s", "__sk", "__w", "__cs", "_pid", "_lc", "_off") ++
      reservedOut ++ order.indices.map(i => s"__o$i")
    val clash = df.columns.toSet intersect reserved
    require(clash.isEmpty,
      s"StratumRank: input columns ${clash.toSeq.sorted.mkString(", ")} collide " +
        "with internal bookkeeping names (__s, __sk, __w, __o<i>, _pid, _lc, " +
        s"_off, ${reservedOut.mkString(", ")}) — rename them before calling")
    // bookkeeping pruning (see [[existingCol]]): reference prunable
    // order/weight columns in place; materialize only genuine
    // expressions. `__s` is not cached at all any more — it is
    // re-projected from the input columns AFTER the join (all callers
    // pass deterministic stratum expressions; the input columns ride
    // the whole pipeline untouched).
    val oCols: Seq[String] = order.zipWithIndex.map { case (c, i) =>
      existingCol(df, c).getOrElse(s"__o$i")
    }
    val oMat = order.zipWithIndex.filter { case (c, _) => existingCol(df, c).isEmpty }
    val wName = existingCol(df, weight).getOrElse("__w")
    val base1 = df
      .withColumn("__sk", when(stratum.isNull, lit("n:"))
        .otherwise(concat(lit("v:"), stratum.cast("string"))))
    val base2 = if (wName == "__w") base1.withColumn("__w", weight) else base1
    val base = oMat.foldLeft(base2) {
      case (d, (c, i)) => d.withColumn(s"__o$i", c)
    }
    // LAZY checkpoint (round-16 job-count audit): the offsets
    // aggregation below is the FIRST action and computes every
    // partition, so the sort's sampled range boundaries pin exactly as
    // the old eager form pinned them — minus one whole materialization
    // job per call (this helper runs 1-2× inside a dozen registered
    // queries; tools/StageProbe measured x123 at 35 jobs/execution)
    val sorted = base
      .sort(col("__sk") +: oCols.map(col(_).asc_nulls_last): _*)
      .withColumn("_pid", spark_partition_id())
      .pin()
    val counts = sorted.groupBy("_pid", "__sk")
      // coalesce: a cell whose weights are ALL NULL must contribute a
      // zero offset, not a driver-side NPE at getLong
      .agg(coalesce(sum(col(wName)), lit(0L)).as("w")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    require(counts.length <= (1 << 20),
      s"StratumRank: ${counts.length} (partition, stratum) cells — " +
        "stratum cardinality too high for the driver-side offset table; " +
        "high-cardinality strata should use a plain hash window instead")
    SortedOffsets(sorted, wName,
      oMat.map { case (_, i) => s"__o$i" }, counts)
  }

  private def twoPhase(df: DataFrame, stratum: Column, order: Seq[Column],
      weight: Column, out: String, withTotal: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val SortedOffsets(sorted, wName, oMatNames, counts) =
      sortAndOffsets(df, stratum, order, weight, Seq(out))
    val offs = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var curS: String = null
    var acc = 0L
    counts.foreach { case (pid, s, c) =>
      if (s != curS) { curS = s; acc = 0L }
      offs += ((pid, s, acc)); acc += c
    }
    // per-stratum TOTAL weight, known for free once the offsets are
    // accumulated (the final running sum per stratum) — exported as
    // `__cs` on every output row so quantile/median callers don't pay
    // a second full pass over the input for the count they need in
    // their position arithmetic
    val totals = scala.collection.mutable.HashMap.empty[String, Long]
    counts.foreach { case (_, s, c) => totals(s) = totals.getOrElse(s, 0L) + c }
    val offRows = offs.toSeq.map { case (pid, s, off) => (pid, s, off, totals(s)) }
    // Phase-4 running sum, PARTITION-LOCAL (round 18, guide §2.4): the
    // checkpointed sort already holds every (partition, stratum) cell
    // CONTIGUOUS and ordered by the rank order — exactly the layout the
    // old `Window.partitionBy(_pid, __sk)` re-created by exchanging and
    // re-sorting the ENTIRE frame (StageProbe: the exchange+window pair
    // was the single heaviest stage family in every StratumRank caller,
    // ~2.6 of x128's 10.2 CPU-s, all to keep ≤1 row per stratum
    // downstream). A sequential per-partition scan over the cached rows
    // computes the identical running sum with ZERO exchange and no
    // second sort. mapPartitions is deliberately a non-codegen island:
    // it replaces a full shuffle of the frame, its input is the already
    // narrow checkpoint cache (nothing left to prune), and the window
    // semantics it must reproduce — sum IGNORES null weights, result is
    // NULL until the cell's first non-null weight — are pinned in
    // StratumRankSpec.
    val inSchema = sorted.schema
    val skIdx = inSchema.fieldIndex("__sk")
    val wIdx = inSchema.fieldIndex(wName)
    val outSchema = inSchema.add("_lc", org.apache.spark.sql.types.LongType)
    // InternalRow-level scan (round 19, verdict #4): the round-18 form
    // went through the external-Row encoder — per row a full
    // deserialize (every string decoded UTF8→java.lang.String), a
    // boxed `r.toSeq :+ lc` Seq build, a GenericRow, and a re-serialize
    // back to UnsafeRow. In the hottest shared path of the suite that
    // was pure allocation: this form reads the checkpoint's unsafe rows
    // directly, appends the running sum through ONE reused JoinedRow +
    // 1-field row (the standard operator-output pattern — downstream
    // operators copy what they buffer, same contract as a parquet
    // scan's reused ColumnarBatchRow), and strings pass through as
    // UTF8String pointers. Only the per-row Long box survives.
    // Semantics are IDENTICAL to the round-18 scan (null weights
    // ignored; null until the cell's first non-null — StratumRankSpec
    // pins them); the group key is compared by UTF8String bytes and
    // copied once per cell (the underlying buffer is operator-reused).
    // The consumer below is a broadcast-hinted hash join, so the rows
    // land in a WholeStageCodegen input adapter (which copies fields
    // into its own UnsafeRowWriter), never raw in an exchange.
    val catalystScanned = sorted.queryExecution.toRdd.mapPartitions { it =>
      var curSk: org.apache.spark.unsafe.types.UTF8String = null
      var acc = 0L
      var seen = false
      val lcRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      it.map { r =>
        val sk = r.getUTF8String(skIdx)
        if (curSk == null || !sk.equals(curSk)) {
          curSk = sk.copy(); acc = 0L; seen = false
        }
        if (!r.isNullAt(wIdx)) { acc += r.getLong(wIdx); seen = true }
        lcRow.update(0, if (seen) acc else null)
        joined(r, lcRow): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    val scanned = org.apache.spark.sql.GraftSqlBridge
      .internalCreateDataFrame(spark, catalystScanned, outSchema)
    scanned
      .join(broadcast(offRows.toDF("_pid", "__sk", "_off", "__cs")),
        Seq("_pid", "__sk"))
      .withColumn(out, col("_off") + col("_lc"))
      // `__s` re-projected here (NOT cached through the sort): the
      // input columns survive the pipeline untouched, so a post-join
      // projection of the (deterministic) stratum expression is free
      // and keeps a whole column — a string for most callers — out of
      // the checkpoint cache and both sort exchanges
      .withColumn("__s", stratum)
      .drop("_pid" :: "_lc" :: "_off" :: "__sk" ::
        (if (wName == "__w") List("__w") else Nil)
        ::: oMatNames.toList
        ::: (if (withTotal) Nil else List("__cs")): _*)
  }

  /** Driver-planned POSITION PICKS over the two-phase sort (round 19,
    * verdict #3): quantile/median callers keep only the row at one
    * target position per stratum — for them the full cumsum machinery
    * (the running-sum scan island, the offsets broadcast join, a
    * filter pass over every partition) computes a column that is
    * immediately thrown away on all but k rows. The offsets table the
    * decomposition already collects tells the driver each stratum's
    * total weight, hence each target position, hence WHICH sorted
    * partition holds it and at what LOCAL running weight — so one
    * partition-PRUNED scan (only partitions holding a target are
    * scheduled, `PartitionPruningRDD`) emits exactly the picked rows.
    *
    * `targetsOf(total)` maps a stratum's total weight to its (tag,
    * position) targets; a target t ∈ [1, total] picks the first row in
    * stratum order whose inclusive running weight covers t — identical
    * to the `cum − cnt < t ≤ cum` filter over [[cumsum]]'s output
    * (rows with NULL/zero weight never cover; several tags may share
    * one position and each emits a row). Targets outside [1, total]
    * emit nothing. Same contracts as [[cumsum]]: `order` must be a
    * total order within each stratum (callers here feed (stratum,
    * value) histograms, where it is by construction), weights
    * non-negative, strata low-cardinality (loud refusal past 2^20
    * driver cells).
    *
    * Returns (picks, sorted):
    *  - `picks`: the input columns + `__tag` (string) + `__cs` (LONG,
    *    the stratum's total weight) — one row per emitted target;
    *  - `sorted`: the checkpointed sorted frame projected back to the
    *    input columns, for callers that run a further aggregate over
    *    the SAME rows without re-sorting or re-computing the upstream
    *    ([[Profile.medianMadOutliers]]'s deviation build) — consuming
    *    it is free of everything above the checkpoint. */
  def pickAtPositions(df: DataFrame, stratum: Column, order: Seq[Column],
      weight: Column, targetsOf: Long => Seq[(String, Long)])
      : (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val SortedOffsets(sorted, wName, oMatNames, counts) =
      sortAndOffsets(df, stratum, order, weight.cast("long"),
        Seq("__tag", "__cs"))
    // per-stratum totals, then each target resolved to (pid, local
    // position within that pid's cell run) — `counts` is grouped by
    // stratum with pids ascending, so a single forward scan assigns
    // every target to the first cell whose cumulative weight covers it
    val totals = scala.collection.mutable.HashMap.empty[String, Long]
    counts.foreach { case (_, s, c) => totals(s) = totals.getOrElse(s, 0L) + c }
    // pid -> stratum shadow -> (total, positions ascending with tags)
    val byPid = scala.collection.mutable.HashMap
      .empty[Int, scala.collection.mutable.HashMap[String, (Long, scala.collection.mutable.ArrayBuffer[(Long, String)])]]
    var curS: String = null
    var acc = 0L
    var pending: List[(String, Long)] = Nil // (tag, pos) ascending by pos, not yet placed
    counts.foreach { case (pid, s, c) =>
      if (s != curS) {
        curS = s; acc = 0L
        val total = totals(s)
        pending = targetsOf(total)
          .filter { case (_, p) => p >= 1L && p <= total }
          .sortBy(_._2).toList
      }
      val hi = acc + c
      while (pending.nonEmpty && pending.head._2 <= hi) {
        val (tag, pos) = (pending.head._1, pending.head._2)
        val cell = byPid.getOrElseUpdate(pid,
          scala.collection.mutable.HashMap.empty)
        val (_, buf) = cell.getOrElseUpdate(s,
          (totals(s), scala.collection.mutable.ArrayBuffer.empty[(Long, String)]))
        buf += ((pos - acc, tag)) // LOCAL position within this pid's run
        pending = pending.tail
      }
      acc = hi
    }
    // immutable, serialization-friendly snapshot for the task closure:
    // pid -> (stratum shadow -> (total, local targets ascending))
    val targetsByPid: Map[Int, Map[String, (Long, Array[(Long, String)])]] =
      byPid.map { case (pid, m) =>
        pid -> m.map { case (s, (t, buf)) => s -> (t, buf.toArray) }.toMap
      }.toMap
    val inSchema = sorted.schema
    val skIdx = inSchema.fieldIndex("__sk")
    val wIdx = inSchema.fieldIndex(wName)
    val outSchema = inSchema
      .add("__tag", org.apache.spark.sql.types.StringType)
      .add("__cs", org.apache.spark.sql.types.LongType)
    // pruned scan: ONLY partitions holding a target are scheduled.
    // PartitionPruningRDD keeps parent partitions in index order, so
    // the i-th surviving partition is origPids(i); the _pid column
    // (recorded at sort time) is asserted against it as cheap
    // insurance that no wrapper reindexed the checkpoint scan.
    val origPids = targetsByPid.keys.toArray.sorted
    val pidSet = origPids.toSet
    val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(
      sorted.queryExecution.toRdd, pidSet.contains)
    val pidIdx = inSchema.fieldIndex("_pid")
    val picked = pruned.mapPartitionsWithIndex { (i, it) =>
      val pid = origPids(i)
      val bySk = targetsByPid(pid)
      var curSk: org.apache.spark.unsafe.types.UTF8String = null
      var curTargets: Array[(Long, String)] = null
      var curTotal = 0L
      var ti = 0
      var localAcc = 0L
      var remaining = bySk.valuesIterator.map(_._2.length).sum
      it.takeWhile(_ => remaining > 0).flatMap { r =>
        require(r.getInt(pidIdx) == pid,
          s"StratumRank.pickAtPositions: checkpoint partition $i carries " +
            s"_pid=${r.getInt(pidIdx)}, expected $pid — partition order " +
            "not preserved")
        val sk = r.getUTF8String(skIdx)
        if (curSk == null || !sk.equals(curSk)) {
          curSk = sk.copy(); localAcc = 0L; ti = 0
          bySk.get(curSk.toString) match {
            case Some((t, arr)) => curTotal = t; curTargets = arr
            case None => curTargets = null
          }
        }
        if (curTargets == null || ti >= curTargets.length) Iterator.empty
        else {
          val w = if (r.isNullAt(wIdx)) 0L else r.getLong(wIdx)
          if (w <= 0L) Iterator.empty
          else {
            val hi = localAcc + w
            val out = scala.collection.mutable.ArrayBuffer
              .empty[org.apache.spark.sql.catalyst.InternalRow]
            while (ti < curTargets.length && curTargets(ti)._1 <= hi) {
              // targets ascending and > every previously covered
              // position, so localAcc < pos ≤ hi holds here — this row
              // is the one the cumsum filter would keep for this tag
              val meta = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
              meta.update(0, org.apache.spark.unsafe.types.UTF8String
                .fromString(curTargets(ti)._2))
              meta.update(1, curTotal)
              out += new org.apache.spark.sql.catalyst.expressions.JoinedRow(r, meta).copy()
              ti += 1; remaining -= 1
            }
            localAcc = hi
            out.iterator
          }
        }
      }
    }
    val picks = org.apache.spark.sql.GraftSqlBridge
      .internalCreateDataFrame(spark, picked, outSchema)
      .drop("_pid" :: "__sk" ::
        (if (wName == "__w") List("__w") else Nil)
        ::: oMatNames.toList: _*)
    val sortedView = sorted.drop("_pid" :: "__sk" ::
      (if (wName == "__w") List("__w") else Nil)
      ::: oMatNames.toList: _*)
    (picks, sortedView)
  }
}
