package graft.queries

import graft.Tables
import graft.ext.{Curation, Dedup, Graph, Multimodal, Profile, Relevance, Sampling, Similarity, Sketches, Spread, TextAnalysis, Vocab}
import graft.functions.PolyHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pin._

/** Extension-operator queries (the LLM-training-data-pipeline surface):
  * dedup, text analysis, similarity search, multimodal plumbing. Exact /
  * SQL-expressible variants carry DuckDB oracles; LSH/MinHash/SimHash
  * approximations are rows-only (their exact twins are oracle-checked).
  */
object ExtQueries {

  // x1 — exact dedup groups (hash groupBy; scale: one shuffle on digest)
  val x1 = Q(
    "x1_dedup_exact",
    """SELECT md5(text) AS content_hash,
      |       MIN(doc_id) AS keep_id,
      |       COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY content_hash""".stripMargin) { (s, dir) =>
    Dedup.exactGroups(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy("content_hash")
  }

  // x2 — token counting (whitespace + BPE-ish regex + stopwords + punct)
  private val stopSql = TextAnalysis.langStopwords.head._2
    .map(w => s"'$w'").mkString(", ")
  val x2 = Q(
    "x2_token_stats",
    s"""SELECT doc_id,
      |       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |            ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_ws,
      |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe,
      |       CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSql))) AS INT) AS n_stop,
      |       CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).as("n_ws"),
      TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
      TextAnalysis.stopwordCount(col("text"), TextAnalysis.langStopwords.head._2).as("n_stop"),
      TextAnalysis.punctCount(col("text")).as("n_punct"))
      .orderBy("doc_id")
  }

  // x3 — quality scoring (integer-ratio arithmetic; bit-stable doubles)
  val x3 = Q(
    "x3_text_quality",
    s"""WITH t AS (
      |  SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
      |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_ws,
      |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSql))) AS INT) AS n_stop,
      |         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct
      |  FROM documents)
      |SELECT doc_id, n_chars, n_ws, n_stop, n_punct,
      |       CASE WHEN n_ws = 0 THEN 0.0
      |            ELSE least(50.0, CAST(n_stop AS DOUBLE) / CAST(n_ws AS DOUBLE) * 100.0 * 2.5)
      |                 + (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 30.0 ELSE 0.0 END)
      |                 + (CASE WHEN n_punct > 0 THEN 20.0 ELSE 0.0 END)
      |       END AS quality
      |FROM t
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      TextAnalysis.wsTokenCount(col("text")).as("n_ws"),
      TextAnalysis.stopwordCount(col("text"), TextAnalysis.langStopwords.head._2).as("n_stop"),
      TextAnalysis.punctCount(col("text")).as("n_punct"))
      .withColumn("quality",
        TextAnalysis.qualityScore(col("n_chars"), col("n_ws"), col("n_stop"), col("n_punct")))
      .orderBy("doc_id")
  }

  // x4 — heuristic language ID (stopword argmax + CJK check)
  private val langHitsSql = TextAnalysis.langStopwords.map { case (l, ws) =>
    val set = ws.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split(text, ' '), x -> x IN ($set))) AS INT) AS s_$l"
  }.mkString(",\n      |         ")
  val x4 = Q(
    "x4_lang_id",
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |         regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk,
      |         $langHitsSql
      |  FROM documents)
      |SELECT doc_id, lang, s_en, s_es, s_de, s_fr,
      |       CASE WHEN has_cjk THEN 'zh'
      |            WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      |            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      |            WHEN s_de >= s_fr THEN 'de'
      |            ELSE 'fr' END AS predicted
      |FROM t
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val hits = TextAnalysis.langStopwords.map { case (l, ws) =>
      TextAnalysis.stopwordCount(col("text"), ws).as(s"s_$l")
    }
    Tables.documents(s, dir)
      .select(Seq(col("doc_id"), col("lang")) ++ hits :+
        TextAnalysis.langId(col("text")).as("predicted"): _*)
      .orderBy("doc_id")
  }

  // x5 — document fingerprinting: md5 + native poly_hash Expression
  // (oracle mirrors the rolling hash with list_reduce over codepoints)
  val x5 = Q(
    "x5_fingerprint",
    """SELECT doc_id,
      |       md5(lower(trim(text))) AS fp_md5,
      |       list_reduce(
      |         list_prepend(CAST(0 AS BIGINT),
      |           list_transform(list_filter(string_split(text, ''), c -> c <> ''),
      |                          c -> CAST(ascii(c) AS BIGINT))),
      |         (a, c) -> (a * 31 + c) % 1000000007) AS fp_poly
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
      PolyHash.poly_hash(col("text")).as("fp_poly"))
      .orderBy("doc_id")
  }

  // x6 — exact word-3-gram Jaccard near-dup pairs (oracle twin of x7;
  // bounded subset). The ELSE branch mirrors WordShingles exactly: docs
  // under 3 words contribute the WHOLE trimmed text as the single
  // shingle. ORACLE FORM (round 15, the x211 precedent): the original
  // N² self-join with per-pair list_intersect walled 83 s at sf0.1 and
  // dominated the gate; this inverted-index form (explode shingles,
  // equi-join on the shared shingle, count per pair) is VALUE-IDENTICAL
  // — sh lists are distinct within a doc, so |A∩B| = the pair's shared-
  // shingle count and |A∪B| = |A| + |B| − |A∩B|; pairs with zero common
  // shingles have jaccard 0 < 0.5 and are excluded by both forms; the
  // DOUBLE division sees the exact same integer operands, so every cell
  // is bit-identical (verified old-vs-new at sf0.001/0.01/0.1: 28/25/25
  // rows, all equal; 83.5 s → 0.4 s at sf0.1).
  val x6 = Q(
    "x6_ngram_jaccard",
    """WITH t AS (
      |  SELECT doc_id, trim(text) AS tt, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE doc_id < 1500),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [tt] END AS sh
      |  FROM t),
      |sz AS (SELECT doc_id, len(sh) AS n FROM s),
      |u AS (SELECT doc_id, unnest(sh) AS sh1 FROM s),
      |c AS (
      |  SELECT ua.doc_id AS a, ub.doc_id AS b, CAST(count(*) AS BIGINT) AS cmn
      |  FROM u ua JOIN u ub ON ua.sh1 = ub.sh1 AND ua.doc_id < ub.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b,
      |       CAST(cmn AS DOUBLE) / CAST(na.n + nb.n - cmn AS DOUBLE) AS jaccard
      |FROM c JOIN sz na ON na.doc_id = c.a JOIN sz nb ON nb.doc_id = c.b
      |WHERE CAST(cmn AS DOUBLE) / CAST(na.n + nb.n - cmn AS DOUBLE) >= 0.5
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Dedup.jaccardPairs(
      Tables.documents(s, dir).where(col("doc_id") < 1500),
      col("doc_id"), col("text"), n = 3, threshold = 0.5)
      .orderBy("a", "b")
  }

  // x7 — MinHash+LSH near-dup, fully oracle-checked: the md5-derived
  // 60-bit base hash + 2-universal seeded family + exact band packing
  // reproduce the ENTIRE LSH pipeline (signatures → bands → candidates →
  // exact-Jaccard verify) in DuckDB SQL, including both hot-bucket guards.
  private val seedRows = Dedup.hashCoeffs(64).zipWithIndex
    .map { case ((a, b, c), i) => s"($i, $a, $b, $c)" }
    .grouped(4).map(_.mkString(", ")).mkString(",\n      |  ")
  // CTE chain + final select split out so x39 can reuse the whole LSH
  // pipeline inside its own WITH RECURSIVE list.
  private val x7Ctes =
    s"""seeds(i, a, b, c) AS (VALUES
      |  $seedRows),
      |d AS (
      |  SELECT min(doc_id) AS doc_id, first(text) AS text
      |  FROM documents GROUP BY md5(text)),
      |t AS (SELECT doc_id, trim(text) AS tt, string_split_regex(trim(text), '\\s+') AS w FROM d),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [tt] END AS sh
      |  FROM t),
      |u AS (SELECT doc_id, unnest(sh) AS sh1 FROM s),
      |h AS MATERIALIZED (SELECT doc_id, ('0x' || substring(md5(sh1), 1, 15))::BIGINT AS h FROM u),
      |ha AS MATERIALIZED (SELECT doc_id, list(DISTINCT h) AS hs FROM h GROUP BY doc_id),
      |m AS (
      |  SELECT doc_id, i,
      |         MIN((a * (h & 1073741823) + b * (h >> 30) + c) % 1000000007) AS mh
      |  FROM h CROSS JOIN seeds GROUP BY doc_id, i),
      |bnd AS MATERIALIZED (
      |  SELECT doc_id, i // 2 AS band,
      |         MAX(CASE WHEN i % 2 = 0 THEN mh END) * 1000000007
      |           + MAX(CASE WHEN i % 2 = 1 THEN mh END) AS bh
      |  FROM m GROUP BY doc_id, band),
      |ok AS (SELECT band, bh FROM bnd GROUP BY band, bh HAVING count(*) <= 65536),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |  FROM bnd l
      |  JOIN bnd r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
      |  JOIN ok ON ok.band = l.band AND ok.bh = l.bh)""".stripMargin

  private val x7Select =
    """SELECT c.a, c.b,
      |       CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
      |         CAST(len(list_distinct(list_concat(sa.hs, sb.hs))) AS DOUBLE) AS jaccard
      |FROM cand c JOIN ha sa ON sa.doc_id = c.a JOIN ha sb ON sb.doc_id = c.b
      |WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
      |      CAST(len(list_distinct(list_concat(sa.hs, sb.hs))) AS DOUBLE) >= 0.5""".stripMargin

  val x7 = Q(
    "x7_dedup_minhash",
    s"WITH $x7Ctes\n$x7Select\nORDER BY a, b") { (s, dir) =>
    Dedup.minhashPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy("a", "b")
  }

  // x8 — SimHash fingerprints + hamming<=3 pairs, oracle-checked via the
  // same md5-derived 60-bit token hash (4×15-bit pigeonhole blocks).
  val x8 = Q(
    "x8_dedup_simhash",
    """WITH d AS (
      |  SELECT min(doc_id) AS doc_id, first(text) AS text
      |  FROM documents GROUP BY md5(text)),
      |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM d),
      |h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tok),
      |v AS (
      |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS j) js GROUP BY doc_id, j),
      |sig AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS BIGINT) AS simhash
      |  FROM v GROUP BY doc_id),
      |blk AS (
      |  SELECT doc_id, simhash, b AS blk, (simhash >> (b * 15)) & 32767 AS key
      |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) bs),
      |ok AS (SELECT blk, key FROM blk GROUP BY blk, key HAVING count(*) <= 65536),
      |p AS (
      |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
      |         CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
      |  FROM blk l
      |  JOIN blk r ON l.blk = r.blk AND l.key = r.key AND l.doc_id < r.doc_id
      |  JOIN ok ON ok.blk = l.blk AND ok.key = l.key)
      |SELECT a, b, hamming FROM p WHERE hamming <= 3
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    val docs = Dedup.distinctContents(
      Tables.documents(s, dir), col("doc_id"), col("text"))
    val sigs = Dedup.simhash(docs, col("doc_id"), col("text"))
    Dedup.simhashPairs(sigs, maxHamming = 3).orderBy("a", "b")
  }

  private def normalizedEmb(s: SparkSession, dir: String): DataFrame =
    Similarity.withNorm(Tables.embeddings(s, dir), col("vec_id"), col("embedding"))

  // x9 — brute-force cosine top-5 for query vectors (exact baseline)
  val x9 = Q(
    "x9_knn_brute",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS qid, e.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(q.emb, e.emb), 6) AS sim
      |  FROM e q, e
      |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM p)
      |SELECT qid, neighbor_id, sim, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    Similarity.knnBrute(embs, embs.where(col("vec_id") < 10), k = 5)
      .orderBy("qid", "rank")
  }

  // x10 — LSH-bucketed approximate top-5 (scale path), oracle-checked:
  // the deterministic hyperplanes are embedded as a literal table, so
  // DuckDB reproduces bucket assignment (sign of dot product) and the
  // exact-cosine re-rank of the candidates bit-for-bit.
  private val planeRows = Similarity.hyperplanes(4, 8, 64).zipWithIndex
    .flatMap { case (tblPlanes, t) =>
      tblPlanes.zipWithIndex.map { case (p, i) =>
        s"($t, $i, [${p.mkString(", ")}]::DOUBLE[])"
      }
    }.mkString(",\n      |  ")
  val x10 = Q(
    "x10_knn_lsh",
    s"""WITH planes(tbl, i, p) AS (VALUES
      |  $planeRows),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |b AS (
      |  SELECT e.vec_id, pl.tbl,
      |         CAST(SUM(CASE WHEN list_dot_product(e.emb, pl.p) >= 0
      |                       THEN (1::BIGINT << pl.i) ELSE 0::BIGINT END) AS BIGINT) AS bucket
      |  FROM e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl),
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
      |  FROM b c JOIN b q ON c.tbl = q.tbl AND c.bucket = q.bucket
      |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |scored AS (
      |  SELECT cand.qid, cand.vid AS neighbor_id,
      |         round(list_cosine_similarity(qe.emb, ce.emb), 6) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.vid),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT qid, neighbor_id, sim, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    Similarity.knnLsh(normalizedEmb(s, dir), (0L until 10L).toSeq, k = 5)
      .orderBy("qid", "rank")
  }

  // x11 — embedding-cosine near-dup pairs (exact; LSH twin is x10's path)
  val x11 = Q(
    "x11_embed_neardup",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
      |SELECT a.vec_id AS a, b.vec_id AS b,
      |       round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
      |FROM e a, e b
      |WHERE a.vec_id < b.vec_id
      |  AND round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.4
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Similarity.nearDupPairs(normalizedEmb(s, dir), threshold = 0.4)
      .orderBy("a", "b")
  }

  // x12 — multimodal binary-column plumbing (payload + typed metadata)
  val x12 = Q(
    "x12_multimodal_meta",
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS kind,
      |         encode(text) AS payload
      |  FROM documents)
      |SELECT media_id, kind,
      |       CAST(octet_length(payload) AS INT) AS n_bytes,
      |       substring(hex(payload), 1, 8) AS header_hex,
      |       CAST(1 + octet_length(payload) % 640 AS INT) AS width,
      |       CAST(1 + octet_length(payload) % 480 AS INT) AS height,
      |       CAST(CASE WHEN kind = 'video' THEN 1 + octet_length(payload) % 30
      |            ELSE 1 END AS INT) AS n_frames
      |FROM m
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    Multimodal.metaColumns(
      Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF())
      .orderBy("media_id")
  }

  // x13 — set operations (SURVEY §2.6: none in the reference; Spark
  // builtins exercised under the oracle gate for completeness)
  val x13 = Q(
    "x13_set_ops",
    """(SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
      | INTERSECT
      | SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000)
      |UNION
      |(SELECT c_custkey AS k FROM customer WHERE c_acctbal < -900
      | EXCEPT
      | SELECT o_custkey AS k FROM orders)
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val ords = Tables.orders(s, dir)
    val rich = cust.where(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
    val big = ords.where(col("o_totalprice") > 100000).select(col("o_custkey").as("k"))
    val poor = cust.where(col("c_acctbal") < -900).select(col("c_custkey").as("k"))
    val anyOrder = ords.select(col("o_custkey").as("k"))
    rich.intersect(big)
      .union(poor.except(anyOrder))
      .distinct()
      .orderBy("k")
  }

  // x14 — hierarchical subtotals via GROUP BY ROLLUP (Catalyst grouping
  // sets; beyond-reference, free per SURVEY §2.4 note). NULLS FIRST
  // ordering aligns Spark's asc default with DuckDB's NULLS LAST default.
  val x14 = Q(
    "x14_rollup_subtotals",
    """SELECT l_returnflag, l_linestatus,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18, 4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
    (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  // x15 — as-of join: each error event picks up the latest preceding (or
  // simultaneous) click of the same user (beyond-reference; the union +
  // carry-forward window pattern, one shuffle — ops/AsofJoin)
  val x15 = Q(
    "x15_asof_join",
    """WITH u AS (
      |  SELECT user_id AS k, ts AS t, event_id AS id, 1 AS side,
      |         CAST(NULL AS BIGINT) AS rid
      |  FROM events WHERE event_type = 'error'
      |  UNION ALL
      |  SELECT user_id, ts, event_id, 0, event_id
      |  FROM events WHERE event_type = 'click'),
      |c AS (
      |  SELECT id, side,
      |         last_value(rid IGNORE NULLS) OVER (
      |           PARTITION BY k ORDER BY t, side, id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_event_id
      |  FROM u)
      |SELECT e.event_id, e.user_id, e.ts, c.asof_event_id
      |FROM events e JOIN c ON e.event_id = c.id AND c.side = 1
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val errors = ev.where(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    graft.ops.AsofJoin.asof(errors, clicks, key = "user_id",
      leftTime = "ts", rightTime = "ts", leftId = "event_id", rightId = "event_id")
      .orderBy("event_id")
  }

  // x16 — top-k per group via ranking window (training-pipeline staple;
  // no ranking windows exist in the reference — SURVEY §2.5 note)
  val x16 = Q(
    "x16_topk_per_group",
    """WITH r AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         CAST(ROW_NUMBER() OVER (
      |           PARTITION BY o_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
      |  FROM orders)
      |SELECT r.o_custkey, r.o_orderkey, r.o_totalprice, r.rk, c.c_name
      |FROM r JOIN customer c ON r.o_custkey = c.c_custkey
      |WHERE r.rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk", "c_name")
      .orderBy("o_custkey", "rk")
  }

  // x17 — exact interpolated percentiles (median + p95) per group
  val x17 = Q(
    "x17_percentiles",
    """SELECT o_orderstatus,
      |       quantile_cont(o_totalprice, 0.5) AS p50,
      |       quantile_cont(o_totalprice, 0.95) AS p95
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.95)).as("p95"))
      .orderBy("o_orderstatus")
  }

  // x18 — corpus token frequency: generator (explode) + agg + top-k LIMIT
  // (the UDTF-shaped surface SURVEY §2.9 notes the reference lacks)
  val x18 = Q(
    "x18_token_freq",
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token
      |LIMIT 50""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  }

  // x19 — explicit GROUPING SETS + grouping_id (completes the x14 rollup
  // family; Dataset.groupingSets is the DataFrame-native form)
  val x19 = Q(
    "x19_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18, 4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
    (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
  }

  // x20 — full CUBE with grouping_id over two dims
  val x20 = Q(
    "x20_cube",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |       COUNT(*) AS n
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
    (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("n"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
  }

  // x21 — IVF-flat ANN: deterministic sampled-seed coarse quantizer,
  // nprobe=2 probed cells, exact cosine re-rank within cells. The whole
  // index (assignment, probing, ranking) is oracle-expressible; the
  // Lloyd-refined variant (Similarity.kmeansLite) is spec-tested.
  // DELIBERATELY keeps the constant stride=50 as the before/after
  // contrast with x63 (its scale-invariant twin) — every other ANN
  // query (x26/x33/x57/x60/x62) adopts strideForCells.
  val x21 = Q(
    "x21_knn_ivf",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % 50 = 7),
      |sims AS (
      |  SELECT e.vec_id, s.cid, round(list_cosine_similarity(e.emb, s.cemb), 6) AS csim
      |  FROM e CROSS JOIN seeds s),
      |best AS (SELECT vec_id, max(csim) AS best_sim FROM sims GROUP BY vec_id),
      |asg AS (
      |  SELECT sims.vec_id, min(cid) AS cid
      |  FROM sims JOIN best ON sims.vec_id = best.vec_id AND sims.csim = best.best_sim
      |  GROUP BY sims.vec_id),
      |qprobe AS (
      |  SELECT qid, cid FROM (
      |    SELECT vec_id AS qid, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS pr
      |    FROM sims WHERE vec_id < 10) q
      |  WHERE pr <= 2),
      |cand AS (
      |  SELECT q.qid, a.vec_id FROM asg a JOIN qprobe q ON a.cid = q.cid
      |  WHERE a.vec_id <> q.qid),
      |scored AS (
      |  SELECT cand.qid, cand.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(qe.emb, ce.emb), 6) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT qid, neighbor_id, sim, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    Similarity.ivfSearch(embs, Similarity.seedCentroids(embs, stride = 50),
      (0L until 10L).toSeq, k = 5, nprobe = 2)
      .orderBy("qid", "rank")
  }

  // x22 — analytic window family: lag/lead/running total per group
  // (training-pipeline staple; reference has no windows — SURVEY §2.5)
  val x22 = Q(
    "x22_window_family",
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |       lag(o_totalprice) OVER w AS prev_price,
      |       lead(o_totalprice) OVER w AS next_price,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 4))) OVER (
      |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total,
      |       CAST(row_number() OVER w AS INT) AS seq
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, seq""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        sum(col("o_totalprice").cast(DecimalType(18, 4)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("run_total"),
        row_number().over(w).cast("int").as("seq"))
      .orderBy("o_custkey", "seq")
  }

  // x23 — salted skew join under the oracle gate: saltedJoin emits
  // exactly the rows of the plain equi-join it replaces, so the oracle
  // is the plain JOIN (the salt is an implementation detail).
  val x23 = Q(
    "x23_salted_join",
    """SELECT c.c_mktsegment, COUNT(*) AS n,
      |       CAST(SUM(CAST(e.value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c.c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    val joined = graft.ops.Salting.saltedJoin(
      Tables.events(s, dir),
      Tables.customer(s, dir).select(col("c_custkey").as("user_id"), col("c_mktsegment")),
      key = "user_id", uniqueCol = "event_id", factor = 8)
    joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .orderBy("c_mktsegment")
  }

  // x24 — the SAME as-of semantics as x15 but through the custom
  // whole-operator Catalyst extension (LogicalPlan + Strategy +
  // streaming-merge SparkPlan; graft/plans/AsofJoinPlan) — same oracle.
  val x24 = Q("x24_asof_custom", x15.oracle.get) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val errors = ev.where(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    graft.plans.AsofJoinPlan.asof(errors, clicks, key = "user_id",
      leftTime = "ts", rightTime = "ts", rightId = "event_id")
      .orderBy("event_id")
  }

  // x25 — canonical text normalization + sentence segmentation (the
  // standard precursor in front of dedup: formatting noise must not
  // defeat the content hash)
  val x25 = Q(
    "x25_normalize",
    """SELECT doc_id,
      |       regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm_text,
      |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_fp,
      |       CAST(len(regexp_extract_all(text, '[.!?]+')) AS INT) AS n_sentences
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.normalize(col("text")).as("norm_text"),
      md5(TextAnalysis.normalize(col("text"))).as("norm_fp"),
      TextAnalysis.sentenceCount(col("text")).as("n_sentences"))
      .orderBy("doc_id")
  }

  // x26 — IVF with ONE Lloyd refinement round under the oracle gate:
  // the unrolled round (assign → decimal-exact re-average → reassign)
  // is plain SQL because kmeansLite's sums are DECIMAL-accumulated —
  // bit-identical to DuckDB regardless of Spark's partition order.
  // Seed stride is scale-invariant (strideForCells ~40 cells, the x63
  // doctrine; oracle mirrors via the scalar subquery) — a constant
  // stride grows cells ∝ N and assignment cost N²/stride.
  val x26 = Q(
    "x26_knn_ivf_lloyd",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e
      |          WHERE vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |sims0 AS (
      |  SELECT e.vec_id, s.cid, round(list_cosine_similarity(e.emb, s.cemb), 6) AS csim
      |  FROM e CROSS JOIN seeds s),
      |best0 AS (SELECT vec_id, max(csim) AS bs FROM sims0 GROUP BY vec_id),
      |asg0 AS (
      |  SELECT sims0.vec_id, min(cid) AS cid
      |  FROM sims0 JOIN best0 ON sims0.vec_id = best0.vec_id AND sims0.csim = best0.bs
      |  GROUP BY sims0.vec_id),
      |mem AS (SELECT a.cid, e.emb FROM asg0 a JOIN e ON e.vec_id = a.vec_id),
      |u AS (SELECT cid, unnest(emb) AS v, generate_subscripts(emb, 1) AS pos FROM mem),
      |avgc AS (
      |  SELECT cid, pos, CAST(SUM(CAST(v AS DECIMAL(28, 16))) AS DOUBLE) / count(*) AS m
      |  FROM u GROUP BY cid, pos),
      |cents AS (SELECT cid, list(m ORDER BY pos) AS cemb FROM avgc GROUP BY cid),
      |sims AS (
      |  SELECT e.vec_id, c.cid, round(list_cosine_similarity(e.emb, c.cemb), 6) AS csim
      |  FROM e CROSS JOIN cents c),
      |best AS (SELECT vec_id, max(csim) AS bs FROM sims GROUP BY vec_id),
      |asg AS (
      |  SELECT sims.vec_id, min(cid) AS cid
      |  FROM sims JOIN best ON sims.vec_id = best.vec_id AND sims.csim = best.bs
      |  GROUP BY sims.vec_id),
      |qprobe AS (
      |  SELECT qid, cid FROM (
      |    SELECT vec_id AS qid, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS pr
      |    FROM sims WHERE vec_id < 10) q
      |  WHERE pr <= 2),
      |cand AS (
      |  SELECT q.qid, a.vec_id FROM asg a JOIN qprobe q ON a.cid = q.cid
      |  WHERE a.vec_id <> q.qid),
      |scored AS (
      |  SELECT cand.qid, cand.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(qe.emb, ce.emb), 6) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT qid, neighbor_id, sim, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    val refined = Similarity.kmeansLite(
      embs, Similarity.seedCentroids(embs, Similarity.strideForCells(embs, 40)),
      iters = 1)
    Similarity.ivfSearch(embs, refined, (0L until 10L).toSeq, k = 5, nprobe = 2)
      .orderBy("qid", "rank")
  }

  // x27 — deterministic stratified hash sampling: keep/drop keyed on the
  // md5-derived hash of the id, per-language rates. Reproducible on any
  // cluster at any parallelism (unlike df.sample), zero shuffle.
  val x27 = Q(
    "x27_stratified_sample",
    """SELECT doc_id, lang
      |FROM documents
      |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
      |      < CASE WHEN lang = 'en' THEN 2500
      |             WHEN lang = 'de' THEN 5000
      |             ELSE 10000 END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.stratifiedSample(
      Tables.documents(s, dir), col("lang"), col("doc_id"),
      rates = Map("en" -> 0.25, "de" -> 0.5), default = 1.0)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  // x28 — PII redaction with audit counts. The synthetic corpus carries
  // no PII, so the query derives a deterministic contact line (source
  // email + numeric id) per doc and scrubs it — the redaction itself is
  // the portable regex pass a pre-training privacy sweep runs.
  val x28 = Q(
    "x28_pii_redaction",
    """WITH raw AS (
      |  SELECT doc_id,
      |         concat_ws(' ', source || '@crawl.example.org',
      |                   CAST(doc_id * 7919 + 1000000 AS VARCHAR), text) AS raw
      |  FROM documents)
      |SELECT doc_id,
      |       regexp_replace(
      |         regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |         '[0-9]{6,}', '<ID>', 'g') AS redacted,
      |       CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
      |       CAST(len(regexp_extract_all(raw, '[0-9]{6,}')) AS INT) AS n_ids
      |FROM raw
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // spread the under-split documents scan BEFORE the regex pass
    // (round 18): the whole query is scan → 4 regex passes → project,
    // no shuffle — so at sf1 (1–2 parquet row groups) every regex ran
    // on ≤2 cores, 6.4 s vs the oracle's 0.6. A contains()-style
    // prefilter can't help here: the derived contact line puts an '@'
    // and a 7-digit id on EVERY row by construction.
    val raw = Spread.toClusterWidth(Tables.documents(s, dir).select(
      col("doc_id"),
      concat_ws(" ",
        concat(col("source"), lit("@crawl.example.org")),
        (col("doc_id") * 7919 + 1000000).cast("string"),
        col("text")).as("raw")))
    raw.select(
      col("doc_id"),
      TextAnalysis.redactPii(col("raw")).as("redacted"),
      TextAnalysis.patternCount(col("raw"), TextAnalysis.EmailPattern).as("n_emails"),
      TextAnalysis.patternCount(col("raw"), TextAnalysis.LongNumberPattern).as("n_ids"))
      .orderBy("doc_id")
  }

  // x29 — Gopher-style repetition signals: repeated-word and
  // repeated-bigram fractions (boilerplate/spam flag). Pure codegen
  // column math; WordShingles' distinct-by-construction output IS the
  // distinct-bigram count.
  val x29 = Q(
    "x29_repetition_filter",
    """WITH t AS (
      |  SELECT doc_id, trim(text) AS tt,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, tt, w, len(w) AS n,
      |         CASE WHEN len(w) >= 2
      |              THEN list_distinct(list_transform(range(1, len(w)),
      |                     i -> w[i] || ' ' || w[i+1]))
      |              ELSE [tt] END AS bg
      |  FROM t)
      |SELECT doc_id,
      |       CAST(CASE WHEN len(tt) = 0 THEN 0 ELSE n END AS INT) AS n_words,
      |       CASE WHEN len(tt) = 0 THEN 0.0
      |            ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(n AS DOUBLE)
      |       END AS dup_word_ratio,
      |       CASE WHEN len(tt) = 0 OR n < 2 THEN 0.0
      |            ELSE 1.0 - CAST(len(bg) AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      |       END AS dup_bigram_ratio,
      |       CAST(CASE WHEN (CASE WHEN len(tt) = 0 OR n < 2 THEN 0.0
      |                            ELSE 1.0 - CAST(len(bg) AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      |                       END) > 0.05 THEN 1 ELSE 0 END AS INT) AS flag
      |FROM b
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).as("n_words"),
      TextAnalysis.dupWordRatio(col("text")).as("dup_word_ratio"),
      TextAnalysis.dupBigramRatio(col("text")).as("dup_bigram_ratio"),
      when(TextAnalysis.dupBigramRatio(col("text")) > 0.05, 1).otherwise(0)
        .cast("int").as("flag"))
      .orderBy("doc_id")
  }

  // x30 — incremental dedup: a new batch anti-joined against the
  // historical corpus' content hashes (the production shape: history is
  // a persisted 16-byte-digest store, not a rescan). The history window
  // deliberately overlaps the batch (250..299) so the anti join removes
  // real rows.
  val x30 = Q(
    "x30_incremental_dedup",
    """WITH b AS (
      |  SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id >= 250),
      |h AS (
      |  SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id < 300)
      |SELECT min(doc_id) AS doc_id, content_hash
      |FROM b
      |WHERE content_hash NOT IN (SELECT content_hash FROM h)
      |GROUP BY content_hash
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Dedup.dedupAgainstHistory(
      docs.where(col("doc_id") >= 250),
      docs.where(col("doc_id") < 300),
      col("doc_id"), col("text"))
      .orderBy("doc_id")
  }

  // x31 — Z-order (Morton) clustering key: interleave the bits of two
  // filter columns so a sorted write serves range predicates on EITHER
  // via parquet row-group min/max pruning (ext/Layout).
  val x31 = Q(
    "x31_zorder_key",
    s"""WITH c AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS a, CAST(c_nationkey AS BIGINT) AS b
      |  FROM customer)
      |SELECT a AS c_custkey, b AS c_nationkey,
      |       ${graft.ext.Layout.zorderKeySql("a", "b", 16)} AS zkey
      |FROM c
      |ORDER BY zkey, c_custkey""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir).select(
      col("c_custkey"),
      col("c_nationkey").cast("long").as("c_nationkey"),
      graft.ext.Layout.zorderKey(col("c_custkey"), col("c_nationkey"), 16).as("zkey"))
      .orderBy("zkey", "c_custkey")
  }

  // x32 — range join (point-in-interval) via bin bucketing: clicks that
  // land inside the 30-minute window each error event opens for its
  // user. The oracle is the naive range join; the engine's binned
  // equi-join (ops/RangeJoin) must produce the identical pair set.
  val x32 = Q(
    "x32_range_join",
    """SELECT c.event_id AS event_id, er.event_id AS err_id
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      |JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') er
      |  ON c.user_id = er.user_id
      | AND c.ts >= er.ts AND c.ts < er.ts + INTERVAL 30 MINUTE
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
    graft.ops.RangeJoin.pointInInterval(
      clicks, errors, key = "user_id", t = "ts",
      start = "w_start", end = "w_end", binSeconds = 1800)
      .select(col("event_id"), col("err_id"))
      .orderBy("event_id", "err_id")
  }

  // x33 — product-quantization ANN (PQ-ADC): 4 subspaces × 16 dims,
  // stride-sampled codebooks, codes = 4 small ints per vector (the
  // ~64× corpus compression that makes 100 TB ANN feasible), scoring
  // via a broadcast query×codeword table, exact re-rank of the top 15.
  // 6-dp-rounded partials + DECIMAL sums keep the approximate ranking
  // bit-stable → the whole chain runs under the oracle gate.
  // The codebook sampling stride is scale-invariant (strideForCells
  // ~40 codewords/subspace, the x63 doctrine) — the round-9 sf1 bench
  // measured the old constant stride at ~39× wall for 10× rows because
  // codewords grew ∝ N; the oracle mirrors the rule as a scalar
  // subquery, so results stay bit-identical across SFs by construction.
  val x33 = Q(
    "x33_knn_pq",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |subs AS (SELECT unnest(range(4)) AS sub),
      |cb AS (
      |  SELECT s.sub, e.vec_id AS cid, e.emb[s.sub*16+1 : s.sub*16+16] AS cemb
      |  FROM e CROSS JOIN subs s
      |  WHERE e.vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |sv AS (
      |  SELECT s.sub, e.vec_id, e.emb[s.sub*16+1 : s.sub*16+16] AS semb
      |  FROM e CROSS JOIN subs s),
      |ps AS (
      |  SELECT sv.vec_id, sv.sub, cb.cid,
      |         round(list_dot_product(sv.semb, cb.cemb), 6) AS psim
      |  FROM sv JOIN cb ON sv.sub = cb.sub),
      |best AS (SELECT vec_id, sub, max(psim) AS b FROM ps GROUP BY vec_id, sub),
      |codes AS (
      |  SELECT ps.vec_id, ps.sub, min(ps.cid) AS code
      |  FROM ps JOIN best ON ps.vec_id = best.vec_id AND ps.sub = best.sub
      |                   AND ps.psim = best.b
      |  GROUP BY ps.vec_id, ps.sub),
      |qt AS (
      |  SELECT e.vec_id AS qid, cb.sub, cb.cid AS code,
      |         round(list_dot_product(e.emb[cb.sub*16+1 : cb.sub*16+16], cb.cemb), 6) AS psim
      |  FROM e CROSS JOIN cb WHERE e.vec_id < 10),
      |approx AS (
      |  SELECT qt.qid, c.vec_id,
      |         CAST(SUM(CAST(qt.psim AS DECIMAL(18, 6))) AS DOUBLE) AS approx_sim
      |  FROM codes c JOIN qt ON c.sub = qt.sub AND c.code = qt.code
      |  WHERE c.vec_id <> qt.qid
      |  GROUP BY qt.qid, c.vec_id),
      |cand AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY approx_sim DESC, vec_id) AS ar
      |  FROM approx),
      |scored AS (
      |  SELECT cand.qid, cand.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(qe.emb, ce.emb), 6) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.vec_id
      |  WHERE cand.ar <= 15),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT qid, neighbor_id, sim, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    Similarity.pqSearch(embs, (0L until 10L).toSeq, k = 5,
      m = 4, stride = Similarity.strideForCells(embs, 40), rerank = 3)
      .orderBy("qid", "rank")
  }

  private def qualityFrame(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      TextAnalysis.wsTokenCount(col("text")).as("n_ws"),
      TextAnalysis.stopwordCount(col("text"), TextAnalysis.langStopwords.head._2).as("n_stop"),
      TextAnalysis.punctCount(col("text")).as("n_punct"))
      .withColumn("quality",
        TextAnalysis.qualityScore(col("n_chars"), col("n_ws"), col("n_stop"), col("n_punct")))

  private val qualitySql: String =
    s"""WITH t AS (
      |  SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
      |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_ws,
      |         CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSql))) AS INT) AS n_stop,
      |         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct
      |  FROM documents),
      |q AS (
      |  SELECT doc_id,
      |         CASE WHEN n_ws = 0 THEN 0.0
      |              ELSE least(50.0, CAST(n_stop AS DOUBLE) / CAST(n_ws AS DOUBLE) * 100.0 * 2.5)
      |                   + (CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 30.0 ELSE 0.0 END)
      |                   + (CASE WHEN n_punct > 0 THEN 20.0 ELSE 0.0 END)
      |         END AS quality
      |  FROM t)""".stripMargin

  // x34 — GLOBAL top-n by quality: `orderBy + limit` plans as
  // TakeOrderedAndProject (per-partition top-n, merged once) — no
  // global sort, no full shuffle, the only top-n shape that survives
  // 100 TB. x16 covers per-group top-k; this is the global path.
  val x34 = Q(
    "x34_global_topn",
    s"""$qualitySql
      |SELECT doc_id, quality FROM q
      |ORDER BY quality DESC, doc_id
      |LIMIT 100""".stripMargin) { (s, dir) =>
    qualityFrame(s, dir)
      .orderBy(col("quality").desc, col("doc_id"))
      .limit(100)
      .select("doc_id", "quality")
  }

  // x35 — quality-weighted Bernoulli sample: keep probability = the
  // doc's quality score (as a rate per 10k) — the deterministic
  // corpus-mixing op; integer hash compare, exact on any engine.
  val x35 = Q(
    "x35_weighted_sample",
    s"""$qualitySql
      |SELECT doc_id, quality FROM q
      |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
      |      < least(greatest(CAST(floor(quality * 100) AS BIGINT), 0), 10000)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.weightedBernoulli(qualityFrame(s, dir), col("doc_id"),
      floor(col("quality") * 100).cast("long"))
      .select("doc_id", "quality")
      .orderBy("doc_id")
  }

  // x36 — overlapping document chunking (200-char windows, 50 overlap):
  // one explode, rows grow by len/stride, nothing shuffles but the
  // output sort. Character windows keep parity exact (substring is
  // character-based on both engines).
  val x36 = Q(
    "x36_doc_chunking",
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n,
      |         greatest(1, CAST(floor((length(text) + 99) / 150.0) AS BIGINT)) AS n_chunks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, unnest(range(n_chunks)) AS chunk_id, text FROM d)
      |SELECT doc_id, chunk_id,
      |       substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk
      |FROM c
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    graft.ext.Packing.chunk(Tables.documents(s, dir),
      col("doc_id"), col("text"), window = 200, overlap = 50)
      .orderBy("doc_id", "chunk_id")
  }

  // x37 — shard-parallel sequence packing (concat-then-cut pretraining
  // layout): per source shard, docs concatenate in doc_id order and cut
  // into 2000-char sequences; each doc reports its starting pack and
  // offset. ONE partitioned window — parallelism = shard count, no
  // global funnel.
  val x37 = Q(
    "x37_seq_packing",
    """WITH c AS (
      |  SELECT doc_id, source, length(text) AS len,
      |         COALESCE(SUM(length(text)) OVER (
      |           PARTITION BY source ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM documents)
      |SELECT doc_id, source, CAST(len AS INT) AS len,
      |       CAST(cum_before // 2000 AS BIGINT) AS pack_id,
      |       CAST(cum_before % 2000 AS BIGINT) AS pack_offset
      |FROM c
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.ext.Packing.packAssignments(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        length(col("text")).as("len")),
      shard = col("source"), order = col("doc_id"), len = col("len"),
      target = 2000)
      .select(col("doc_id"), col("source"), col("len"),
        col("pack_id"), col("pack_offset"))
      .orderBy("doc_id")
  }

  // x38 — benchmark decontamination: training docs sharing any 5-gram
  // with the "benchmark" (doc_id < 25 stands in for an eval set) are
  // dropped before training. Only (id, 8-byte shingle hash) pairs
  // shuffle; the benchmark shingle set is dim-sized and broadcasts.
  val x38 = Q(
    "x38_decontaminate",
    """WITH d AS (
      |  SELECT doc_id, trim(text) AS tt, text,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, text,
      |         CASE WHEN len(w) >= 5
      |              THEN list_distinct(list_transform(range(1, len(w) - 3),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
      |              ELSE [tt] END AS sh
      |  FROM d),
      |u AS (
      |  SELECT doc_id, ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
      |  FROM s),
      |bs AS (SELECT DISTINCT h FROM u WHERE doc_id < 25),
      |bad AS (
      |  SELECT DISTINCT doc_id FROM u
      |  WHERE doc_id >= 25 AND h IN (SELECT h FROM bs))
      |SELECT doc_id FROM d
      |WHERE doc_id >= 25 AND doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Dedup.decontaminate(
      docs.where(col("doc_id") >= 25),
      docs.where(col("doc_id") < 25),
      col("doc_id"), col("text"), n = 5)
      .select("doc_id")
      .orderBy("doc_id")
  }

  // x39 — near-dup CLUSTERS: pairs are only half the dedup job; the
  // keep/drop decision needs connected components. The engine runs
  // distributed min-label propagation to fixpoint (Dedup
  // .connectedComponents); the oracle computes min-reachable-label with
  // a recursive CTE over the SAME x7 pair pipeline. A doc's cluster id
  // IS the id of the row a cluster dedup would keep.
  val x39 = Q(
    "x39_neardup_clusters",
    s"""WITH RECURSIVE $x7Ctes,
      |pr AS ($x7Select),
      |edges AS (SELECT a AS u, b AS v FROM pr UNION ALL SELECT b, a FROM pr),
      |reach(id, label) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.id)
      |SELECT id AS doc_id, min(label) AS cluster
      |FROM reach GROUP BY id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val pairs = Dedup.minhashPairs(Tables.documents(s, dir),
      col("doc_id"), col("text"))
    Dedup.connectedComponents(pairs).orderBy("doc_id")
  }

  // x40 — gap-based sessionization over the event fact (the batch twin
  // of streaming session_window; ops/Sessionize). One shuffle on the
  // key; the windows and the per-session aggregate share it.
  val x40 = Q(
    "x40_sessionize",
    """WITH e AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) AS tus FROM events),
      |m AS (
      |  SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |  FROM e),
      |s AS (
      |  SELECT *, SUM(CASE WHEN prev IS NULL OR tus - prev > 1800000000
      |                     THEN 1 ELSE 0 END)
      |         OVER (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM m)
      |SELECT user_id, CAST(session_seq AS INT) AS session_seq,
      |       min(ts) AS session_start, max(ts) AS session_end,
      |       COUNT(*) AS n_events,
      |       (max(tus) - min(tus)) // 1000000 AS duration_secs
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin) { (s, dir) =>
    graft.ops.Sessionize.sessionize(
      Tables.events(s, dir), col("user_id"), col("ts"), col("event_id"),
      gapMicros = 1800000000L)
      .withColumnRenamed("key", "user_id")
      .orderBy("user_id", "session_seq")
  }

  // x41 — TF-IDF top terms per doc (linear idf: same ranking as ln,
  // integer-ratio exact across engines; ext/Relevance).
  val x41 = Q(
    "x41_tfidf",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |                                   ORDER BY score DESC, term) AS rank
      |      FROM scored)
      |SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
    graft.ext.Relevance.tfidfTopK(
      Tables.documents(s, dir), col("doc_id"), col("text"), k = 3)
      .orderBy("doc_id", "rank")
  }

  // x42 — C4/Gopher document filter chain: word-count floor, mean word
  // length band, lorem-ipsum ban, bullet-line cap. The keep decision is
  // pure integer arithmetic (bullets*10 <= lines*9, not a float ratio).
  val x42 = Q(
    "x42_c4_filters",
    """WITH t AS (
      |  SELECT doc_id, text,
      |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_words,
      |         length(regexp_replace(text, '\s', '', 'g')) AS n_alpha,
      |         string_split(text, chr(10)) AS ls
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_words,
      |         CASE WHEN n_words = 0 THEN 0.0
      |              ELSE CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len,
      |         CAST(len(ls) AS INT) AS n_lines,
      |         CAST(len(list_filter(ls,
      |              l -> right(rtrim(l), 1) IN ('.', '!', '?', '"'))) AS INT) AS terminal_lines,
      |         CAST(len(list_filter(ls,
      |              l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'
      |                   OR ltrim(l) LIKE '•%')) AS INT) AS bullet_lines,
      |         CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem
      |  FROM t)
      |SELECT doc_id, n_words, mean_word_len, n_lines, terminal_lines,
      |       bullet_lines, CAST(has_lorem AS INT) AS has_lorem,
      |       CAST(CASE WHEN n_words >= 5 AND mean_word_len >= 3.0
      |                      AND mean_word_len <= 10.0 AND has_lorem = 0
      |                      AND bullet_lines * 10 <= n_lines * 9
      |            THEN 1 ELSE 0 END AS INT) AS keep
      |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir).select(
      col("doc_id"), col("text"),
      TextAnalysis.wsTokenCount(col("text")).as("n_words"),
      TextAnalysis.meanWordLen(col("text")).as("mean_word_len"),
      size(TextAnalysis.lines(col("text"))).as("n_lines"),
      TextAnalysis.terminalLineCount(col("text")).as("terminal_lines"),
      TextAnalysis.bulletLineCount(col("text")).as("bullet_lines"),
      lower(col("text")).contains("lorem ipsum").cast("int").as("has_lorem"))
    t.select(col("doc_id"), col("n_words"), col("mean_word_len"),
      col("n_lines"), col("terminal_lines"), col("bullet_lines"),
      col("has_lorem"),
      TextAnalysis.c4Keep(col("n_words"), col("mean_word_len"),
        col("has_lorem") === 1, col("bullet_lines"), col("n_lines")).as("keep"))
      .orderBy("doc_id")
  }

  // x43 — Bloom-accelerated decontamination: driver-built Bloom over the
  // benchmark shingle hashes kills clean train shingles at the scan;
  // the exact semi join removes false positives, so the oracle is the
  // EXACT decontamination SQL (sketch as accelerator, not approximator).
  val x43 = Q(
    "x43_bloom_decontaminate",
    """WITH d AS (
      |  SELECT doc_id, trim(text) AS tt, text,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, text,
      |         CASE WHEN len(w) >= 5
      |              THEN list_distinct(list_transform(range(1, len(w) - 3),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
      |              ELSE [tt] END AS sh
      |  FROM d),
      |u AS (
      |  SELECT doc_id, ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
      |  FROM s),
      |bs AS (SELECT DISTINCT h FROM u WHERE doc_id < 40),
      |bad AS (
      |  SELECT DISTINCT doc_id FROM u
      |  WHERE doc_id >= 40 AND h IN (SELECT h FROM bs))
      |SELECT doc_id FROM d
      |WHERE doc_id >= 40 AND doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Dedup.decontaminateBloom(
      docs.where(col("doc_id") >= 40),
      docs.where(col("doc_id") < 40),
      col("doc_id"), col("text"), n = 5)
      .select("doc_id")
      .orderBy("doc_id")
  }

  // x44 — event-rate anomaly z-scores (ops/RateAnomaly): each user's
  // hourly event counts scored against that user's own history. The
  // monitoring-alert analytic, with integer-exact variance so the oracle
  // hash-matches (see RateAnomaly's float discipline).
  val x44 = Q(
    "x44_rate_anomaly",
    """WITH c AS (
      |  SELECT user_id, date_trunc('hour', ts) AS bucket, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS n,
      |         SUM(cnt) OVER (PARTITION BY user_id) AS sm,
      |         SUM(cnt * cnt) OVER (PARTITION BY user_id) AS ss
      |  FROM c),
      |z AS (
      |  SELECT user_id, bucket, cnt,
      |         CASE WHEN n > 1 AND (n * ss - sm * sm) > 0
      |              THEN (CAST(cnt AS DOUBLE) - CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
      |                   / sqrt(CAST(n * ss - sm * sm AS DOUBLE)
      |                          / CAST(n * (n - 1) AS DOUBLE))
      |              ELSE 0.0 END AS z
      |  FROM s)
      |SELECT user_id, bucket, cnt, z,
      |       CAST(CASE WHEN abs(z) > 2.5 THEN 1 ELSE 0 END AS INT) AS is_outlier
      |FROM z ORDER BY user_id, bucket""".stripMargin) { (s, dir) =>
    graft.ops.RateAnomaly.rateZscores(
      Tables.events(s, dir), col("user_id"), col("ts"), "hour")
      .withColumnRenamed("key", "user_id")
      .orderBy("user_id", "bucket")
  }

  // x45 — dynamic pivot (Dataset.pivot with pinned values: one shuffle,
  // map-side combinable; the reference's 16-way error pivot A4 done via
  // the first-class relational operator instead of 16 CASE columns).
  val x45 = Q(
    "x45_event_pivot",
    """SELECT date_trunc('day', ts) AS day,
      |       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |       COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events
      |GROUP BY 1 ORDER BY day""".stripMargin) { (s, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("day")
  }

  // x46 — ranked-distribution window family (rank / percent_rank /
  // cume_dist / ntile) PARTITIONED by event_type: completes x22's
  // lag/lead family with the rank side, with no global-order funnel.
  // percent_rank and cume_dist are integer ratios — oracle-exact.
  // ROUND 15 (the WindowAuditSpec sweep's find): event_type is a
  // ~5-value stratum over a USER-cardinality aggregate — the bare
  // window single-task-sorted |users| rows per type, exactly the
  // funnel class round 14 retired. The rank now rides StratumRank
  // two-phase; rank==row_number because (cnt, user_id) is a total
  // order within a type, and percent_rank/cume_dist/ntile are exact
  // arithmetic on (rank, per-type count): pr = (rn-1)/(n-1) (0 when
  // n=1), cd = rn/n — both IEEE quotients of exact ints, identical to
  // the window functions on either engine — and ntile's first n%4
  // buckets take one extra row, the SQL-standard fill.
  val x46 = Q(
    "x46_rank_family",
    """WITH c AS (
      |  SELECT event_type, user_id, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, user_id, cnt,
      |       CAST(rank() OVER w AS INT) AS rnk,
      |       percent_rank() OVER w AS pr,
      |       cume_dist() OVER w AS cd,
      |       CAST(ntile(4) OVER w AS INT) AS quartile
      |FROM c WINDOW w AS (PARTITION BY event_type ORDER BY cnt, user_id)
      |ORDER BY event_type, cnt, user_id""".stripMargin) { (s, dir) =>
    val c = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val totals = c.groupBy(col("event_type")).agg(count(lit(1)).as("__n"))
    graft.ext.StratumRank.rank(c, col("event_type"),
        Seq(col("cnt"), col("user_id")))
      .withColumnRenamed("__rn", "__r").drop("__s")
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("__sz", expr("__n DIV 4L"))
      .withColumn("__ex", expr("__n % 4L"))
      .select(col("event_type"), col("user_id"), col("cnt"),
        col("__r").cast("int").as("rnk"),
        when(col("__n") === 1, lit(0.0))
          .otherwise((col("__r") - 1).cast("double") /
            (col("__n") - 1).cast("double")).as("pr"),
        (col("__r").cast("double") / col("__n").cast("double")).as("cd"),
        expr("CAST(CASE WHEN __r <= (__sz + 1) * __ex " +
          "THEN (__r - 1) DIV (__sz + 1) " +
          "ELSE __ex + (__r - 1 - __ex * (__sz + 1)) DIV __sz END + 1 AS INT)")
          .as("quartile"))
      .orderBy("event_type", "cnt", "user_id")
  }

  // x47 — asymmetric containment near-dup (subset detection): fraction
  // of A's 3-gram shingles inside B. Catches doc-inside-doc relations
  // symmetric Jaccard dilutes; same inverted index as x6 — ORACLE FORM
  // rewritten scan-side in round 15 with x6 (same value-identity
  // argument: |A∩B| = shared-shingle count, denominator |A| is the
  // probe side's own distinct-shingle count, zero-overlap pairs are
  // below the 0.5 threshold in both forms; verified bit-identical at
  // sf0.001/0.01/0.1 — 56/50/50 rows; 51.9 s → 0.3 s at sf0.1).
  val x47 = Q(
    "x47_containment",
    """WITH t AS (
      |  SELECT doc_id, trim(text) AS tt, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE doc_id < 1500),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [tt] END AS sh
      |  FROM t),
      |sz AS (SELECT doc_id, len(sh) AS n FROM s),
      |u AS (SELECT doc_id, unnest(sh) AS sh1 FROM s),
      |c AS (
      |  SELECT ua.doc_id AS a, ub.doc_id AS b, CAST(count(*) AS BIGINT) AS cmn
      |  FROM u ua JOIN u ub ON ua.sh1 = ub.sh1 AND ua.doc_id <> ub.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, CAST(cmn AS DOUBLE) / CAST(na.n AS DOUBLE) AS containment
      |FROM c JOIN sz na ON na.doc_id = c.a
      |WHERE CAST(cmn AS DOUBLE) / CAST(na.n AS DOUBLE) >= 0.5
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Dedup.containmentPairs(
      Tables.documents(s, dir).where(col("doc_id") < 1500),
      col("doc_id"), col("text"), n = 3, threshold = 0.5)
      .orderBy("a", "b")
  }

  // x48 — fixed-budget language balancing: at most N docs per lang,
  // picked by deterministic hash order (Sampling.takePerStratum) — the
  // exact-count counterpart of x27's per-rate sampling.
  val x48 = Q(
    "x48_take_per_stratum",
    """WITH r AS (
      |  SELECT doc_id, lang,
      |         row_number() OVER (
      |           PARTITION BY lang
      |           ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
      |                    doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, lang FROM r WHERE rn <= 40
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.takePerStratum(
      Tables.documents(s, dir).select("doc_id", "lang"),
      col("lang"), col("doc_id"), n = 40)
      .orderBy("doc_id")
  }

  // x49 — dedup keeping the BEST copy (longest text, not minimum id):
  // group on the normalized-content hash, rank copies by length.
  // Formatting noise (case/whitespace) doesn't defeat the content hash,
  // and truncated copies lose to full ones.
  // ROUND 15 (skew-receipt hardening): the keep-best election is a
  // combinable struct-argmax — max(struct(len, -doc_id, ...)) groups
  // map-side — instead of a content_hash window. A VIRAL fingerprint
  // (the skew corpus's 210k byte-identical flood) previously buffered
  // its whole family in ONE WindowExec task; the argmax folds it into
  // per-partition maxima. Ordering identical: larger len wins, tie to
  // the smaller doc_id (the negated id in slot 2).
  val x49 = Q(
    "x49_dedup_best",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
      |         CAST(length(text) AS INT) AS len
      |  FROM documents),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY content_hash ORDER BY len DESC, doc_id) AS rn
      |  FROM t)
      |SELECT doc_id, lang, content_hash, len
      |FROM r WHERE rn = 1
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        md5(TextAnalysis.normalize(col("text"))).as("content_hash"),
        length(col("text")).as("len"))
      .groupBy(col("content_hash"))
      .agg(max(struct(col("len"), (-col("doc_id")).as("__negid"),
        col("doc_id"), col("lang"))).as("__b"))
      .select(col("__b.doc_id").as("doc_id"), col("__b.lang").as("lang"),
        col("content_hash"), col("__b.len").as("len"))
      .orderBy("doc_id")
  }

  // x50 — label-noise sweep: per-label centroid (exact DECIMAL
  // re-average, the x26 recipe keyed on the LABEL column) and each
  // class's 5 most atypical members by cosine-to-own-centroid.
  val x50 = Q(
    "x50_class_outliers",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
      |u AS (SELECT label, unnest(emb) AS v, generate_subscripts(emb, 1) AS pos FROM e),
      |avgc AS (
      |  SELECT label, pos, CAST(SUM(CAST(v AS DECIMAL(28, 16))) AS DOUBLE) / count(*) AS m
      |  FROM u GROUP BY label, pos),
      |cents AS (SELECT label, list(m ORDER BY pos) AS cemb FROM avgc GROUP BY label),
      |scored AS (
      |  SELECT e.label, e.vec_id,
      |         round(list_cosine_similarity(e.emb, c.cemb), 6) AS csim
      |  FROM e JOIN cents c USING (label)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY csim, vec_id) AS rn
      |      FROM scored)
      |SELECT label, vec_id, csim, CAST(rn AS INT) AS rn
      |FROM r WHERE rn <= 5
      |ORDER BY label, rn""".stripMargin) { (s, dir) =>
    Similarity.classOutliers(
      Tables.embeddings(s, dir), col("label"), col("vec_id"),
      col("embedding"), k = 5)
      .orderBy("label", "rn")
  }

  // x51 — hopping (sliding) window aggregation: 1-hour windows every 30
  // minutes via the built-in `window()` generator (each event lands in
  // exactly length/slide = 2 windows). The oracle replicates the
  // replication with an explicit 2-element unnest on integer-micro
  // window starts; the value sum goes through the exact DECIMAL
  // accumulator. Completes the window family: tumbling (q11), session
  // (x40), hopping (here).
  val x51 = Q(
    "x51_hopping_window",
    """WITH b AS (
      |  SELECT epoch_us(ts) // 1800000000 AS hb, value FROM events),
      |w AS (
      |  SELECT unnest([hb * 1800000000, (hb - 1) * 1800000000]) AS ws, value
      |  FROM b)
      |SELECT make_timestamp(ws) AS wstart,
      |       make_timestamp(ws + 3600000000) AS wend,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18, 4))) AS DOUBLE) AS sum_value
      |FROM w GROUP BY ws
      |ORDER BY wstart""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select(col("w.start").as("wstart"), col("w.end").as("wend"),
        col("n"), col("sum_value"))
      .orderBy("wstart")
  }

  // x52 — ordered 3-step funnel (signup → click → purchase): each step's
  // first occurrence STRICTLY AFTER the previous step's. Integer-micros
  // timestamps; one user-key shuffle shared by all stages.
  val x52 = Q(
    "x52_funnel",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_type AS et FROM events),
      |t1 AS (
      |  SELECT user_id, min(CASE WHEN et = 'signup' THEN tus END) AS t1
      |  FROM e GROUP BY user_id
      |  HAVING min(CASE WHEN et = 'signup' THEN tus END) IS NOT NULL),
      |t2 AS (
      |  SELECT e.user_id, t1.t1,
      |         min(CASE WHEN et = 'click' AND tus > t1.t1 THEN tus END) AS t2
      |  FROM e JOIN t1 USING (user_id) GROUP BY e.user_id, t1.t1),
      |t3 AS (
      |  SELECT e.user_id, t2.t1, t2.t2,
      |         min(CASE WHEN et = 'purchase' AND tus > t2.t2 THEN tus END) AS t3
      |  FROM e JOIN t2 USING (user_id) GROUP BY e.user_id, t2.t1, t2.t2)
      |SELECT user_id, t1, t2, t3,
      |       CAST(CASE WHEN t3 IS NOT NULL THEN 3
      |                 WHEN t2 IS NOT NULL THEN 2
      |                 ELSE 1 END AS INT) AS stage
      |FROM t3 ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.funnel3(
      Tables.events(s, dir), col("user_id"), col("ts"), col("event_type"),
      "signup", "click", "purchase")
      .orderBy("user_id")
  }

  // x53 — retention cohorts: users bucketed by first-event day; distinct
  // active users per (cohort, day offset). Two combinable shuffles.
  val x53 = Q(
    "x53_retention",
    """WITH f AS (
      |  SELECT user_id, date_trunc('day', min(ts)) AS cohort
      |  FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
      |SELECT f.cohort, CAST(date_diff('day', f.cohort, a.day) AS INT) AS day_offset,
      |       COUNT(DISTINCT a.user_id) AS n_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY f.cohort, day_offset
      |ORDER BY cohort, day_offset""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.retentionCohorts(
      Tables.events(s, dir), col("user_id"), col("ts"))
      .orderBy("cohort", "day_offset")
  }

  // x54 — FULL OUTER join (the one join shape the suite hadn't
  // exercised): disjoint-overlap customer slice vs per-customer order
  // aggregates, both null sides populated. DECIMAL-exact totals.
  val x54 = Q(
    "x54_full_outer",
    """WITH o AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 4))) AS DOUBLE) AS total
      |  FROM orders WHERE o_custkey >= 300 GROUP BY 1),
      |c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 500)
      |SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
      |       c.c_name, o.n_orders, o.total
      |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
      |ORDER BY custkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    val o = Tables.orders(s, dir).where(col("o_custkey") >= 300)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double").as("total"))
    val c = Tables.customer(s, dir).where(col("c_custkey") < 500)
      .select("c_custkey", "c_name")
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("n_orders"), col("total"))
      .orderBy("custkey")
  }

  // x55 — null-aware anti join: ANSI `NOT IN` over a subquery that can
  // contain NULL (three-valued logic: a NULL probe never qualifies, and
  // a NULL in the subquery poisons nothing here because the build side
  // is filtered non-null — the PROBE side carries the nulls). Runs
  // through spark.sql so Catalyst plans its null-aware anti join; the
  // engine's SQL entry path is the operator under test.
  val x55 = Q(
    "x55_null_aware_anti",
    """WITH probe AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS ck
      |  FROM orders)
      |SELECT o_orderkey, ck
      |FROM probe
      |WHERE ck NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 750)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    s.sql(
      """WITH probe AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS ck
        |  FROM orders_v)
        |SELECT o_orderkey, ck
        |FROM probe
        |WHERE ck NOT IN (SELECT c_custkey FROM customer_v WHERE c_custkey < 750)
        |ORDER BY o_orderkey""".stripMargin)
  }

  // x56 — substring-level exact dedup (Lee et al. spans, word-granular
  // 5-grams): every 5-gram occurrence that is not the corpus-wide first
  // occurrence of its content is marked; consecutive marked positions
  // merge into (span_start, span_end) cut-lists per doc. The oracle
  // reproduces the first-occurrence rule with a row_number window over
  // the shingle hash (rn >= 2 == "not the keeper") and the same
  // gaps-and-islands merge; the engine uses a map-side-combinable
  // min(struct) aggregate instead of that window on purpose (skew).
  val x56 = Q(
    "x56_substring_dedup",
    """WITH d AS (
      |  SELECT doc_id, trim(text) AS tt,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 5
      |              THEN list_transform(range(1, len(w) - 3),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
      |              ELSE [tt] END AS sh
      |  FROM d),
      |p AS (
      |  SELECT doc_id, sh, unnest(range(0, len(sh))) AS pos FROM s),
      |ph AS (
      |  SELECT doc_id, pos,
      |         ('0x' || substring(md5(sh[CAST(pos + 1 AS INT)]), 1, 15))::BIGINT AS h
      |  FROM p),
      |rn AS (
      |  SELECT doc_id, pos,
      |         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |  FROM ph),
      |m AS (SELECT doc_id, pos FROM rn WHERE rn >= 2),
      |isl AS (
      |  SELECT doc_id, pos,
      |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM m)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |       CAST(max(pos) + 4 AS BIGINT) AS span_end,
      |       COUNT(*) AS n_shingles
      |FROM isl GROUP BY doc_id, grp
      |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
    Dedup.duplicateSpans(Tables.documents(s, dir),
      col("doc_id"), col("text"), n = 5)
      .orderBy("doc_id", "span_start")
  }

  // x57 — semantic dedup (SemDeDup shape): the x26 clustering (seeded +
  // one DECIMAL-exact Lloyd round, so the learned assignment is
  // bit-identical in both engines) feeds a within-cluster keep-min
  // prune. The oracle unrolls the same round as x26 and reproduces the
  // greedy per-pair rule; the documented cross-cluster-miss limitation
  // is pinned in SemanticDedupSpec, not here. Seed stride is
  // scale-invariant (strideForCells ~40 cells): cluster population
  // |c| ≈ N/cells would otherwise SHRINK as cells grew ∝ N, silently
  // trading recall for speed at scale — fixed cells keep the Σ|c|²
  // pair work the operator's contract describes.
  val x57 = Q(
    "x57_semantic_dedup",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e
      |          WHERE vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |sims0 AS (
      |  SELECT e.vec_id, s.cid, round(list_cosine_similarity(e.emb, s.cemb), 6) AS csim
      |  FROM e CROSS JOIN seeds s),
      |best0 AS (SELECT vec_id, max(csim) AS bs FROM sims0 GROUP BY vec_id),
      |asg0 AS (
      |  SELECT sims0.vec_id, min(cid) AS cid
      |  FROM sims0 JOIN best0 ON sims0.vec_id = best0.vec_id AND sims0.csim = best0.bs
      |  GROUP BY sims0.vec_id),
      |mem AS (SELECT a.cid, e.emb FROM asg0 a JOIN e ON e.vec_id = a.vec_id),
      |u AS (SELECT cid, unnest(emb) AS v, generate_subscripts(emb, 1) AS pos FROM mem),
      |avgc AS (
      |  SELECT cid, pos, CAST(SUM(CAST(v AS DECIMAL(28, 16))) AS DOUBLE) / count(*) AS m
      |  FROM u GROUP BY cid, pos),
      |cents AS (SELECT cid, list(m ORDER BY pos) AS cemb FROM avgc GROUP BY cid),
      |sims AS (
      |  SELECT e.vec_id, c.cid, round(list_cosine_similarity(e.emb, c.cemb), 6) AS csim
      |  FROM e CROSS JOIN cents c),
      |best AS (SELECT vec_id, max(csim) AS bs FROM sims GROUP BY vec_id),
      |asg AS (
      |  SELECT sims.vec_id, min(cid) AS cid
      |  FROM sims JOIN best ON sims.vec_id = best.vec_id AND sims.csim = best.bs
      |  GROUP BY sims.vec_id),
      |mem2 AS (SELECT a.vec_id, a.cid, e.emb FROM asg a JOIN e ON e.vec_id = a.vec_id),
      |rem AS (
      |  SELECT y.vec_id, min(x.vec_id) AS dup_of
      |  FROM mem2 x JOIN mem2 y
      |    ON x.cid = y.cid AND x.vec_id < y.vec_id
      |  WHERE NOT isnan(round(list_cosine_similarity(x.emb, y.emb), 6))
      |    AND round(list_cosine_similarity(x.emb, y.emb), 6) >= 0.4
      |  GROUP BY y.vec_id)
      |SELECT a.vec_id, a.cid, r.dup_of,
      |       CAST(r.dup_of IS NULL AS INT) AS keep_flag
      |FROM asg a LEFT JOIN rem r ON r.vec_id = a.vec_id
      |ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    Similarity.semanticDedup(embs, threshold = 0.4,
      stride = Similarity.strideForCells(embs, 40), iters = 1)
      .orderBy("vec_id")
  }

  // x58 — the END-TO-END curation decision: normalization-keyed exact
  // dedup + language ID + C4/Gopher quality + per-language hash
  // downsample, one flags row per doc (ext/Curation). Each component
  // is already individually oracled (x1/x25, x4, x42, x27); this pins
  // the COMPOSITION — same signals, same thresholds, one pass.
  val x58 = Q(
    "x58_curation_pipeline",
    s"""WITH t AS (
      |  SELECT doc_id, text,
      |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS nfp,
      |         regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk,
      |         $langHitsSql,
      |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_words,
      |         length(regexp_replace(text, '\\s', '', 'g')) AS n_alpha,
      |         string_split(text, chr(10)) AS ls
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, nfp, n_words,
      |         CASE WHEN has_cjk THEN 'zh'
      |              WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      |              WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      |              WHEN s_de >= s_fr THEN 'de'
      |              ELSE 'fr' END AS predicted,
      |         CASE WHEN n_words = 0 THEN 0.0
      |              ELSE CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len,
      |         CAST(len(ls) AS INT) AS n_lines,
      |         CAST(len(list_filter(ls,
      |              l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'
      |                   OR ltrim(l) LIKE '•%')) AS INT) AS bullet_lines,
      |         CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem
      |  FROM t),
      |f AS (
      |  SELECT doc_id, predicted,
      |         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY nfp)
      |              THEN 1 ELSE 0 END AS is_canonical,
      |         CASE WHEN predicted IN ('en', 'de') THEN 1 ELSE 0 END AS keep_lang,
      |         CASE WHEN n_words >= 5 AND mean_word_len >= 3.0
      |                   AND mean_word_len <= 10.0 AND has_lorem = 0
      |                   AND bullet_lines * 10 <= n_lines * 9
      |              THEN 1 ELSE 0 END AS keep_quality,
      |         CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
      |                   < CASE WHEN predicted = 'en' THEN 2500
      |                          WHEN predicted = 'de' THEN 5000
      |                          ELSE 10000 END
      |              THEN 1 ELSE 0 END AS keep_sample
      |  FROM s)
      |SELECT doc_id, predicted,
      |       CAST(is_canonical AS INT) AS is_canonical,
      |       CAST(keep_lang AS INT) AS keep_lang,
      |       CAST(keep_quality AS INT) AS keep_quality,
      |       CAST(keep_sample AS INT) AS keep_sample,
      |       CAST(is_canonical * keep_lang * keep_quality * keep_sample AS INT) AS keep_flag
      |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.ext.Curation.curationFlags(Tables.documents(s, dir),
      col("doc_id"), col("text"),
      keepLangs = Seq("en", "de"),
      rates = Map("en" -> 0.25, "de" -> 0.5), defaultRate = 1.0)
      .orderBy("doc_id")
  }

  // x59 — token-budget corpus mixing: per-source keep-rates derived
  // from a total token budget and target mixture weights, all-BIGINT
  // rate arithmetic (DuckDB `//` == Spark `DIV`), deterministic hash
  // keep decision. DuckDB promotes SUM(BIGINT) to HUGEINT and
  // BIGINT*INTEGER through it, and pandas renders HUGEINT as float64 —
  // which breaks the driver's hash parity even when values are exact —
  // so both `tok` and `rate10k` are pinned back to BIGINT with explicit
  // CASTs. src0/src1 get boosted shares (src0's target exceeds
  // its mass → rate caps at 10000), the long tail downsamples.
  val x59 = Q(
    "x59_token_mix",
    """WITH d AS (
      |  SELECT doc_id, source,
      |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |  FROM documents),
      |t AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tok FROM d GROUP BY source),
      |r AS (
      |  SELECT source,
      |         CAST(CASE WHEN tok = 0 THEN 0
      |              ELSE LEAST(10000,
      |                ((5000 * CASE source WHEN 'src0' THEN 3000
      |                                     WHEN 'src1' THEN 2000
      |                                     ELSE 277 END) // 10000) * 10000 // tok)
      |         END AS BIGINT) AS rate10k
      |  FROM t)
      |SELECT d.doc_id, d.source, d.n_tokens, r.rate10k,
      |       CAST(CASE WHEN ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
      |                      < r.rate10k
      |            THEN 1 ELSE 0 END AS INT) AS keep_flag
      |FROM d JOIN r ON d.source = r.source
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.tokenBudgetMix(Tables.documents(s, dir),
      col("doc_id"), col("source"), col("text"),
      budgetTokens = 5000L,
      weights10k = Map("src0" -> 3000L, "src1" -> 2000L),
      defaultWeight10k = 277L)
      .orderBy("doc_id")
  }

  // x60 — IVF-PQ, the production ANN composite: x21's cell probe bounds
  // WHICH vectors are candidates, x33's ADC bounds the bytes touched per
  // candidate, exact re-rank bounds the error. The oracle is the two
  // proven CTE sets joined on the candidate list. Both sampling strides
  // (coarse cells AND PQ codewords) are scale-invariant (strideForCells
  // ~40, the x63 doctrine; round-9 sf1 measured the constant stride at
  // ~43× wall for 10× rows); one count() job feeds both.
  val x60 = Q(
    "x60_knn_ivf_pq",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e
      |          WHERE vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |isims AS (
      |  SELECT e.vec_id, s.cid, round(list_cosine_similarity(e.emb, s.cemb), 6) AS csim
      |  FROM e CROSS JOIN seeds s),
      |ibest AS (SELECT vec_id, max(csim) AS b FROM isims GROUP BY vec_id),
      |asg AS (
      |  SELECT isims.vec_id, min(cid) AS cid
      |  FROM isims JOIN ibest ON isims.vec_id = ibest.vec_id AND isims.csim = ibest.b
      |  GROUP BY isims.vec_id),
      |qprobe AS (
      |  SELECT qid, cid FROM (
      |    SELECT vec_id AS qid, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS pr
      |    FROM isims WHERE vec_id < 10) q
      |  WHERE pr <= 2),
      |icand AS (
      |  SELECT q.qid, a.vec_id FROM asg a JOIN qprobe q ON a.cid = q.cid
      |  WHERE a.vec_id <> q.qid),
      |subs AS (SELECT unnest(range(4)) AS sub),
      |cb AS (
      |  SELECT s.sub, e.vec_id AS cid, e.emb[s.sub*16+1 : s.sub*16+16] AS cemb
      |  FROM e CROSS JOIN subs s
      |  WHERE e.vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |sv AS (
      |  SELECT s.sub, e.vec_id, e.emb[s.sub*16+1 : s.sub*16+16] AS semb
      |  FROM e CROSS JOIN subs s),
      |ps AS (
      |  SELECT sv.vec_id, sv.sub, cb.cid,
      |         round(list_dot_product(sv.semb, cb.cemb), 6) AS psim
      |  FROM sv JOIN cb ON sv.sub = cb.sub),
      |pbest AS (SELECT vec_id, sub, max(psim) AS b FROM ps GROUP BY vec_id, sub),
      |codes AS (
      |  SELECT ps.vec_id, ps.sub, min(ps.cid) AS code
      |  FROM ps JOIN pbest ON ps.vec_id = pbest.vec_id AND ps.sub = pbest.sub
      |                    AND ps.psim = pbest.b
      |  GROUP BY ps.vec_id, ps.sub),
      |qt AS (
      |  SELECT e.vec_id AS qid, cb.sub, cb.cid AS code,
      |         round(list_dot_product(e.emb[cb.sub*16+1 : cb.sub*16+16], cb.cemb), 6) AS psim
      |  FROM e CROSS JOIN cb WHERE e.vec_id < 10),
      |approx AS (
      |  SELECT ic.qid, ic.vec_id,
      |         CAST(SUM(CAST(qt.psim AS DECIMAL(18, 6))) AS DOUBLE) AS approx_sim
      |  FROM icand ic
      |  JOIN codes c ON c.vec_id = ic.vec_id
      |  JOIN qt ON c.sub = qt.sub AND c.code = qt.code AND qt.qid = ic.qid
      |  GROUP BY ic.qid, ic.vec_id),
      |cand AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY approx_sim DESC, vec_id) AS ar
      |  FROM approx),
      |scored AS (
      |  SELECT cand.qid, cand.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(qe.emb, ce.emb), 6) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.vec_id
      |  WHERE cand.ar <= 15),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT qid, neighbor_id, sim, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    val stride = Similarity.strideForCells(embs, 40)
    Similarity.ivfPqSearch(embs, Similarity.seedCentroids(embs, stride),
      (0L until 10L).toSeq, k = 5, nprobe = 2, m = 4, stride = stride, rerank = 3)
      .orderBy("qid", "rank")
  }

  // x61 — int8 embedding quantization: per-vector symmetric scale,
  // clamped HALF_UP codes, and the reconstruction error REPORTED per
  // row. Every step is plain arithmetic both engines round identically,
  // so the codes themselves (not just stats about them) sit under the
  // gate — as an md5 fingerprint of the comma-joined code list, because
  // the driver's pandas row-sort cannot canonicalize raw array columns.
  val x61 = Q(
    "x61_quantize_int8",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |s AS (
      |  SELECT vec_id, emb,
      |         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
      |  FROM e),
      |q AS (
      |  SELECT vec_id, emb, scale,
      |         CASE WHEN scale = 0 THEN list_transform(emb, x -> 0)
      |              ELSE list_transform(emb, x ->
      |                CAST(LEAST(GREATEST(round(x / scale, 0), -127.0), 127.0) AS INT))
      |         END AS qemb
      |  FROM s)
      |SELECT vec_id, scale,
      |       md5(array_to_string(qemb, ',')) AS codes_fp,
      |       round(list_max(list_transform(range(1, len(emb) + 1),
      |         i -> abs(emb[i] - qemb[i] * scale))), 6) AS max_abs_err
      |FROM q
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Similarity.quantizeInt8(normalizedEmb(s, dir))
      .select(col("vec_id"), col("scale"),
        md5(concat_ws(",", transform(col("qemb"), c => c.cast("string")))).as("codes_fp"),
        col("max_abs_err"))
      .orderBy("vec_id")
  }

  // x62 — MULTI-PROBE semantic dedup: x57's recall extension. Same
  // seeded + one-DECIMAL-Lloyd-round clustering, but each vector joins
  // its TOP-2 cells, so the boundary-straddling pairs x57 documents as
  // missed (SemanticDedupSpec) are compared whenever they share either
  // cell. The oracle unrolls the identical 2-probe ranking
  // (ROW_NUMBER over (csim DESC, cid ASC), NaN ranks excluded — the
  // Spark aggregator skips NaN the same way) and the same greedy
  // keep-min rule; `cid` is the slot-1 (= x57's) assignment, `cid2`
  // the probed runner-up. Seed stride is scale-invariant
  // (strideForCells ~40 cells, same rationale as x57).
  val x62 = Q(
    "x62_semantic_dedup_mp",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e
      |          WHERE vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |sims0 AS (
      |  SELECT e.vec_id, s.cid, round(list_cosine_similarity(e.emb, s.cemb), 6) AS csim
      |  FROM e CROSS JOIN seeds s),
      |best0 AS (SELECT vec_id, max(csim) AS bs FROM sims0 GROUP BY vec_id),
      |asg0 AS (
      |  SELECT sims0.vec_id, min(cid) AS cid
      |  FROM sims0 JOIN best0 ON sims0.vec_id = best0.vec_id AND sims0.csim = best0.bs
      |  GROUP BY sims0.vec_id),
      |mem AS (SELECT a.cid, e.emb FROM asg0 a JOIN e ON e.vec_id = a.vec_id),
      |u AS (SELECT cid, unnest(emb) AS v, generate_subscripts(emb, 1) AS pos FROM mem),
      |avgc AS (
      |  SELECT cid, pos, CAST(SUM(CAST(v AS DECIMAL(28, 16))) AS DOUBLE) / count(*) AS m
      |  FROM u GROUP BY cid, pos),
      |cents AS (SELECT cid, list(m ORDER BY pos) AS cemb FROM avgc GROUP BY cid),
      |nz AS (SELECT vec_id, emb FROM e WHERE list_dot_product(emb, emb) > 0),
      |sims AS (
      |  SELECT nz.vec_id, c.cid, round(list_cosine_similarity(nz.emb, c.cemb), 6) AS csim
      |  FROM nz CROSS JOIN cents c),
      |rk AS (
      |  SELECT vec_id, cid,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS pr
      |  FROM sims WHERE NOT isnan(csim)),
      |mem2 AS (
      |  SELECT r.vec_id, r.cid, e2.emb
      |  FROM rk r JOIN e e2 ON e2.vec_id = r.vec_id WHERE r.pr <= 2),
      |rem AS (
      |  SELECT y.vec_id, min(x.vec_id) AS dup_of
      |  FROM mem2 x JOIN mem2 y
      |    ON x.cid = y.cid AND x.vec_id < y.vec_id
      |  WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= 0.4
      |  GROUP BY y.vec_id),
      |prim AS (
      |  SELECT vec_id,
      |         min(CASE WHEN pr = 1 THEN cid END) AS cid,
      |         min(CASE WHEN pr = 2 THEN cid END) AS cid2
      |  FROM rk WHERE pr <= 2 GROUP BY vec_id)
      |SELECT e.vec_id, p.cid, p.cid2, r.dup_of,
      |       CAST(r.dup_of IS NULL AS INT) AS keep_flag
      |FROM e LEFT JOIN prim p ON p.vec_id = e.vec_id
      |LEFT JOIN rem r ON r.vec_id = e.vec_id
      |ORDER BY e.vec_id""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    Similarity.semanticDedupMultiProbe(embs, threshold = 0.4,
      stride = Similarity.strideForCells(embs, 40), iters = 1)
      .orderBy("vec_id")
  }

  // x63 — SCALE-INVARIANT IVF kNN: x21's exact shape, but the seed
  // stride is derived from the corpus size so the cell count stays ~40
  // at ANY scale factor — the doctrine the sf1 bench row demands (a
  // constant stride grows cells with N and assignment cost N²/stride;
  // see Similarity.strideForCells and COVERAGE.md). Both engines
  // compute the same integer stride: Spark via one count() job at plan
  // build, the oracle via a scalar subquery — so the query is
  // bit-identical across SFs BY CONSTRUCTION, not by re-tuning.
  val x63 = Q(
    "x63_knn_ivf_scaled",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e
      |          WHERE vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |sims AS (
      |  SELECT e.vec_id, s.cid, round(list_cosine_similarity(e.emb, s.cemb), 6) AS csim
      |  FROM e CROSS JOIN seeds s),
      |best AS (SELECT vec_id, max(csim) AS best_sim FROM sims GROUP BY vec_id),
      |asg AS (
      |  SELECT sims.vec_id, min(cid) AS cid
      |  FROM sims JOIN best ON sims.vec_id = best.vec_id AND sims.csim = best.best_sim
      |  GROUP BY sims.vec_id),
      |qprobe AS (
      |  SELECT qid, cid FROM (
      |    SELECT vec_id AS qid, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS pr
      |    FROM sims WHERE vec_id < 10) q
      |  WHERE pr <= 2),
      |cand AS (
      |  SELECT q.qid, a.vec_id FROM asg a JOIN qprobe q ON a.cid = q.cid
      |  WHERE a.vec_id <> q.qid),
      |scored AS (
      |  SELECT cand.qid, cand.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(qe.emb, ce.emb), 6) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT qid, neighbor_id, sim, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    val stride = Similarity.strideForCells(embs, cells = 40)
    Similarity.ivfSearch(embs, Similarity.seedCentroids(embs, stride),
      (0L until 10L).toSeq, k = 5, nprobe = 2)
      .orderBy("qid", "rank")
  }

  // x64 — PageRank over the co-shingle doc graph (ext/Graph): 3 unrolled
  // power iterations, each one join + one DECIMAL-exact groupBy — the
  // canonical distributed PageRank step, hash-exact by construction
  // (contributions are single IEEE divisions, inbound sums run through
  // DECIMAL(28,16), the damping blend is one fixed double chain). The
  // df<=64 stop-gram cap is the guard that keeps edge generation linear
  // at corpus scale; the oracle carries the identical cap. Bounded
  // subset doc_id<1500 like x6 (the graph build is the same inverted-
  // index primitive; PageRank itself is linear in edges).
  // shared by x64/x73: the capped co-shingle edge build (t → deg CTEs)
  private val coShingleEdgeCtes =
    """t AS (
      |  SELECT doc_id, trim(text) AS tt, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE doc_id < 1500),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [tt] END AS sh
      |  FROM t),
      |u AS (SELECT doc_id, unnest(sh) AS sh1 FROM s),
      |hh AS (SELECT doc_id, ('0x' || substring(md5(sh1), 1, 15))::BIGINT AS h FROM u),
      |keep AS (SELECT h FROM hh GROUP BY h HAVING COUNT(*) <= 64),
      |occ AS (SELECT hh.doc_id, hh.h FROM hh JOIN keep USING (h)),
      |e0 AS (SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
      |       FROM occ a JOIN occ b ON a.h = b.h AND a.doc_id < b.doc_id),
      |e AS (SELECT s AS src, d AS dst FROM e0 UNION ALL SELECT d, s FROM e0),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)""".stripMargin
  val x64 = Q(
    "x64_pagerank",
    s"""WITH $coShingleEdgeCtes,
      |nn AS (SELECT COUNT(*) AS n FROM deg),
      |r0 AS (SELECT src AS node, deg, CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) AS r
      |       FROM deg CROSS JOIN nn),
      |i1 AS (SELECT e.dst AS node, SUM(CAST(r.r / CAST(r.deg AS DOUBLE) AS DECIMAL(28, 16))) AS sdec
      |       FROM r0 r JOIN e ON e.src = r.node GROUP BY e.dst),
      |r1 AS (SELECT d.src AS node, d.deg,
      |              (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(nn.n AS DOUBLE)
      |              + CAST(0.85 AS DOUBLE) * CAST(i1.sdec AS DOUBLE) AS r
      |       FROM i1 JOIN deg d ON d.src = i1.node CROSS JOIN nn),
      |i2 AS (SELECT e.dst AS node, SUM(CAST(r.r / CAST(r.deg AS DOUBLE) AS DECIMAL(28, 16))) AS sdec
      |       FROM r1 r JOIN e ON e.src = r.node GROUP BY e.dst),
      |r2 AS (SELECT d.src AS node, d.deg,
      |              (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(nn.n AS DOUBLE)
      |              + CAST(0.85 AS DOUBLE) * CAST(i2.sdec AS DOUBLE) AS r
      |       FROM i2 JOIN deg d ON d.src = i2.node CROSS JOIN nn),
      |i3 AS (SELECT e.dst AS node, SUM(CAST(r.r / CAST(r.deg AS DOUBLE) AS DECIMAL(28, 16))) AS sdec
      |       FROM r2 r JOIN e ON e.src = r.node GROUP BY e.dst),
      |r3 AS (SELECT d.src AS node, d.deg,
      |              (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(nn.n AS DOUBLE)
      |              + CAST(0.85 AS DOUBLE) * CAST(i3.sdec AS DOUBLE) AS r
      |       FROM i3 JOIN deg d ON d.src = i3.node CROSS JOIN nn)
      |SELECT node AS doc_id, CAST(deg AS BIGINT) AS degree, r AS pr
      |FROM r3 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Graph.pageRank(
      Graph.coShingleEdges(Tables.documents(s, dir).where(col("doc_id") < 1500),
        col("doc_id"), col("text"), n = 3, maxShingleDf = 64L),
      iters = 3, damping = 0.85)
      .orderBy("doc_id")
  }

  // x73 — triangle counts + clustering coefficient on the same capped
  // co-shingle graph as x64 (shared edge CTEs): the redundancy-structure
  // probe — tight mutually-overlapping clusters vs triangle-free
  // template hubs. Canonical a<b<c wedge enumeration; integer counts,
  // one IEEE ratio.
  val x73 = Q(
    "x73_triangles",
    s"""WITH $coShingleEdgeCtes,
      |wedges AS (
      |  SELECT ab.s AS a, ab.d AS b, bc.d AS c
      |  FROM e0 ab JOIN e0 bc ON ab.d = bc.s),
      |tri AS (
      |  SELECT w.a, w.b, w.c
      |  FROM wedges w JOIN e0 t ON t.s = w.a AND t.d = w.c),
      |pn AS (
      |  SELECT node, COUNT(*) AS n_triangles FROM (
      |    SELECT a AS node FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY node)
      |SELECT d.src AS doc_id, CAST(d.deg AS BIGINT) AS degree,
      |       CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
      |       CASE WHEN d.deg < 2 THEN CAST(0 AS DOUBLE)
      |            ELSE CAST(2 AS DOUBLE) * CAST(COALESCE(p.n_triangles, 0) AS DOUBLE)
      |                 / CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS clustering
      |FROM deg d LEFT JOIN pn p ON p.node = d.src
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Graph.triangleStats(
      Graph.coShingleEdges(Tables.documents(s, dir).where(col("doc_id") < 1500),
        col("doc_id"), col("text"), n = 3, maxShingleDf = 64L))
      .orderBy("doc_id")
  }

  // x65 — deterministic HyperLogLog distinct 3-grams per source
  // (ext/Sketches): every register and the raw estimate recomputed
  // bit-identically in SQL — a sketch with a hash-parity gate, not an
  // epsilon assertion. The exact distinct count ships alongside as the
  // error baseline.
  val x65 = Q(
    "x65_hll_distinct",
    """WITH t AS (
      |  SELECT source, trim(text) AS tt, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT source,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [tt] END AS sh
      |  FROM t),
      |u AS (SELECT source, unnest(sh) AS el FROM s),
      |hh AS (SELECT source, ('0x' || substring(md5(el), 1, 15))::BIGINT AS h FROM u),
      |fb AS (SELECT source, h & 63 AS bucket, h >> 6 AS w2 FROM hh),
      |rho AS (SELECT source, bucket,
      |               CASE WHEN w2 = 0 THEN 55 ELSE 55 - length(bin(w2)) END AS rho
      |        FROM fb),
      |regs AS (SELECT source, bucket, MAX(rho) AS mj FROM rho GROUP BY source, bucket),
      |fold AS (SELECT source,
      |                SUM(CAST(1 AS BIGINT) << CAST(55 - mj AS INT)) AS present_sum,
      |                COUNT(*) AS n_present
      |         FROM regs GROUP BY source),
      |den AS (SELECT source,
      |               present_sum + (64 - n_present) * (CAST(1 AS BIGINT) << 55) AS denom
      |        FROM fold),
      |ex AS (SELECT source, COUNT(DISTINCT el) AS n_exact FROM u GROUP BY source),
      |est AS (SELECT den.source,
      |               CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(64 AS DOUBLE))
      |                 * CAST(4096 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
      |                 / CAST(denom AS DOUBLE) AS hll_estimate
      |        FROM den)
      |SELECT ex.source AS key, ex.n_exact, est.hll_estimate,
      |       abs(est.hll_estimate - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE) AS rel_err
      |FROM ex JOIN est ON est.source = ex.source
      |ORDER BY key""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Sketches.hllDistinct(
      docs.select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("el")),
      col("source"), col("el"))
      .orderBy("key")
  }

  // x66 — C4-style boilerplate removal accounting (ext/Dedup): word
  // 4-grams in >=3 distinct docs are boilerplate; covered positions are
  // the interval union over ALL their occurrences (unlike x56, which
  // keeps the corpus-wide first copy), merged by the same gaps-and-
  // islands window.
  val x66 = Q(
    "x66_boilerplate",
    """WITH d AS (
      |  SELECT doc_id, trim(text) AS tt, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |         CASE WHEN len(w) >= 4
      |              THEN list_transform(range(1, len(w) - 2),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
      |              ELSE [tt] END AS sh
      |  FROM d),
      |p AS (SELECT doc_id, n_words, sh, unnest(range(0, len(sh))) AS pos FROM s),
      |ph AS (
      |  SELECT doc_id, n_words, pos,
      |         ('0x' || substring(md5(sh[CAST(pos + 1 AS INT)]), 1, 15))::BIGINT AS h
      |  FROM p),
      |bo AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM ph) GROUP BY h HAVING COUNT(*) >= 3),
      |cov AS (
      |  SELECT DISTINCT doc_id, cpos FROM (
      |    SELECT ph.doc_id, unnest(generate_series(pos, least(pos + 3, n_words - 1))) AS cpos
      |    FROM ph JOIN bo USING (h))),
      |isl AS (
      |  SELECT doc_id, cpos,
      |         cpos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cpos) AS grp
      |  FROM cov),
      |sp AS (SELECT doc_id, grp, COUNT(*) AS cnt FROM isl GROUP BY doc_id, grp),
      |agg AS (SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(cnt) AS BIGINT) AS n_covered
      |        FROM sp GROUP BY doc_id)
      |SELECT s.doc_id, s.n_words,
      |       COALESCE(a.n_covered, 0) AS n_covered,
      |       COALESCE(a.n_spans, 0) AS n_spans,
      |       s.n_words - COALESCE(a.n_covered, 0) AS clean_words,
      |       CAST(COALESCE(a.n_covered, 0) AS DOUBLE) / CAST(s.n_words AS DOUBLE) AS frac_removed
      |FROM s LEFT JOIN agg a ON a.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    Dedup.boilerplateCoverage(Tables.documents(s, dir),
      col("doc_id"), col("text"), n = 4, minDf = 3L)
      .orderBy("doc_id")
  }

  // x67 — BM25 top-10 docs for a fixed query bag (ext/Relevance;
  // rational idf — monotone-equivalent to ln, bit-exact cross-engine;
  // 'dup' is the rare term carrying real idf spread). orderBy+limit
  // plans as TakeOrderedAndProject, not a global window.
  val x67 = Q(
    "x67_bm25",
    """WITH dl AS (
      |  SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
      |  FROM documents),
      |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
      |toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |         FROM documents),
      |ft AS (SELECT doc_id, term FROM toks WHERE term IN ('dup', 'vector', 'merge')),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ft GROUP BY doc_id, term),
      |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |sc AS (
      |  SELECT tf.doc_id, dl.dl,
      |         (CAST(st.n_docs - dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |           / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1 AS DOUBLE) AS idf,
      |         CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))
      |           / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |              * (CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |                 + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)
      |                   / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))) AS tfpart
      |  FROM tf JOIN dfq USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
      |pd AS (
      |  SELECT doc_id, CAST(MIN(dl) AS BIGINT) AS dl, COUNT(*) AS n_hit_terms,
      |         CAST(SUM(CAST(round(idf * tfpart, 8) AS DECIMAL(28, 8))) AS DOUBLE) AS score
      |  FROM sc GROUP BY doc_id),
      |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM pd)
      |SELECT doc_id, dl, n_hit_terms, score, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 10
      |ORDER BY rank""".stripMargin) { (s, dir) =>
    Relevance.bm25TopK(Tables.documents(s, dir), col("doc_id"), col("text"),
      Seq("dup", "vector", "merge"), k = 10)
      .orderBy("rank")
  }

  // x68 — count-min heavy hitters (ext/Sketches.cmsTopK): the second
  // deterministic sketch with a hash-parity gate. d=4 seeded rows from
  // the SAME 2-universal family as x7 (coefficients embedded as VALUES),
  // w=1024 buckets; estimate = min over rows (never an undercount);
  // exact counts alongside as the error baseline. Integer-only.
  private val cmsSeedRows = Dedup.hashCoeffs(4).zipWithIndex
    .map { case ((a, b, c), i) => s"($i, $a, $b, $c)" }.mkString(", ")
  val x68 = Q(
    "x68_cms_heavy_hitters",
    s"""WITH seeds(i, a, b, c) AS (VALUES $cmsSeedRows),
      |toks AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
      |         FROM documents),
      |hh AS (SELECT term, ('0x' || substring(md5(term), 1, 15))::BIGINT AS h FROM toks),
      |cnt AS (
      |  SELECT i, ((a * (h & 1073741823) + b * (h >> 30) + c) % 1000000007) % 1024 AS bucket,
      |         COUNT(*) AS c
      |  FROM hh CROSS JOIN seeds GROUP BY 1, 2),
      |ex AS (SELECT term, COUNT(*) AS n_exact FROM toks GROUP BY 1),
      |exh AS (SELECT term, n_exact,
      |               ('0x' || substring(md5(term), 1, 15))::BIGINT AS h
      |        FROM ex),
      |q AS (
      |  SELECT e.term, e.n_exact, MIN(cnt.c) AS cms_estimate
      |  FROM exh e CROSS JOIN seeds s
      |  JOIN cnt ON cnt.i = s.i
      |    AND cnt.bucket = ((s.a * (e.h & 1073741823) + s.b * (e.h >> 30) + s.c)
      |                      % 1000000007) % 1024
      |  GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (ORDER BY cms_estimate DESC, term) AS rk FROM q)
      |SELECT term, CAST(n_exact AS BIGINT) AS n_exact,
      |       CAST(cms_estimate AS BIGINT) AS cms_estimate,
      |       CAST(cms_estimate - n_exact AS BIGINT) AS overcount
      |FROM r WHERE rk <= 20
      |ORDER BY cms_estimate DESC, term""".stripMargin) { (s, dir) =>
    val toks = Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
    Sketches.cmsTopK(toks, col("term"), k = 20)
      .orderBy(col("cms_estimate").desc, col("term"))
  }

  // x69 — Johnson–Lindenstrauss random projection 32→8 dims
  // (Similarity.randomProject): deterministic ±1 Achlioptas signs from
  // integer arithmetic (matrix reproduced exactly in SQL), strictly
  // sequential left-to-right accumulation on both engines, zero
  // shuffles — the ANN family's dimensionality-reduction scale path.
  // norm_ratio makes the JL distortion visible per vector.
  val x69 = Q(
    "x69_random_projection",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |nz AS (SELECT vec_id, emb FROM e WHERE list_dot_product(emb, emb) > 0),
      |pr AS (
      |  SELECT vec_id, emb,
      |         list_transform(range(0, 8), j ->
      |           round(list_reduce(list_transform(range(1, 33),
      |             i -> (1 - 2 * (((536870923::BIGINT * (j * 33 + i) + 337)
      |                   % 1000000007) % 2)) * emb[i]),
      |             (acc, v) -> acc + v) / sqrt(8.0), 6)) AS proj
      |  FROM nz),
      |wr AS (
      |  SELECT vec_id, proj,
      |         round(list_reduce(list_transform(proj, y -> y * y), (a, b) -> a + b) /
      |               list_reduce(list_transform(emb, v -> v * v), (a, b) -> a + b), 6) AS norm_ratio
      |  FROM pr),
      |u AS (SELECT vec_id, norm_ratio, unnest(proj) AS component,
      |             generate_subscripts(proj, 1) - 1 AS pos
      |      FROM wr)
      |SELECT vec_id, CAST(pos AS INT) AS pos, component, norm_ratio
      |FROM u ORDER BY vec_id, pos""".stripMargin) { (s, dir) =>
    Similarity.randomProject(normalizedEmb(s, dir), outDim = 8)
      .orderBy("vec_id", "pos")
  }

  // x70 — BPE vocabulary induction (ext/Vocab): 3 merge rounds over the
  // corpus vocabulary, tokenizer-training as a DataFrame pipeline. The
  // oracle unrolls the identical rounds (same pair order, same greedy
  // even-offset overlap rule) — an iterative string algorithm with a
  // hash-parity gate. One CTE block per round, generated to stay
  // byte-consistent across rounds.
  private def bpeRoundSql(r: Int): String =
    s"""p$r AS (SELECT word, freq, pos, sym,
      |        lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s$r),
      |c$r AS (SELECT sym || ' ' || nxt AS pair, SUM(freq) AS cnt
      |       FROM p$r WHERE nxt IS NOT NULL GROUP BY 1),
      |b$r AS (SELECT pair FROM c$r ORDER BY cnt DESC, pair LIMIT 1),
      |cand$r AS (SELECT word, freq, pos, sym, nxt,
      |                 CASE WHEN sym || ' ' || nxt = (SELECT pair FROM b$r)
      |                      THEN 1 ELSE 0 END AS isc
      |          FROM p$r),
      |runs$r AS (SELECT word, pos,
      |                 pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
      |          FROM cand$r WHERE isc = 1),
      |heads$r AS (SELECT word, pos FROM (
      |             SELECT word, pos, pos - MIN(pos) OVER (PARTITION BY word, grp) AS off
      |             FROM runs$r)
      |           WHERE off % 2 = 0),
      |m$r AS (SELECT c.word, c.freq, c.pos,
      |              CASE WHEN h.pos IS NOT NULL THEN c.sym || c.nxt ELSE c.sym END AS sym
      |       FROM cand$r c
      |       LEFT JOIN heads$r h ON h.word = c.word AND h.pos = c.pos
      |       LEFT JOIN heads$r x ON x.word = c.word AND x.pos + 1 = c.pos
      |       WHERE x.pos IS NULL),
      |s${r + 1} AS (SELECT word, freq,
      |            ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos, sym
      |            FROM m$r)""".stripMargin
  val x70 = Q(
    "x70_bpe_vocab",
    s"""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      |              FROM documents),
      |w AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY 1),
      |s1 AS (SELECT word, freq,
      |              generate_subscripts(string_split(word, ''), 1) - 1 AS pos,
      |              unnest(string_split(word, '')) AS sym
      |       FROM w),
      |${bpeRoundSql(1)},
      |${bpeRoundSql(2)},
      |${bpeRoundSql(3)}
      |SELECT word, freq, pos, sym FROM s4
      |ORDER BY word, pos""".stripMargin) { (s, dir) =>
    val words = Tables.documents(s, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    Vocab.bpeRounds(words, rounds = 3).orderBy("word", "pos")
  }

  // x71 — per-doc novelty pricing (Dedup.noveltyScores): fraction of a
  // doc's distinct 3-gram shingles first seen in THIS doc (min doc_id =
  // ingestion order). Copies of earlier docs score ~0, fresh content ~1.
  val x71 = Q(
    "x71_novelty",
    """WITH t AS (
      |  SELECT doc_id, trim(text) AS tt, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [tt] END AS sh
      |  FROM t),
      |u AS (SELECT doc_id, unnest(sh) AS sh1 FROM s),
      |hh AS (SELECT doc_id, ('0x' || substring(md5(sh1), 1, 15))::BIGINT AS h FROM u),
      |f AS (SELECT h, MIN(doc_id) AS first_doc FROM hh GROUP BY h),
      |j AS (SELECT hh.doc_id, CAST(hh.doc_id = f.first_doc AS BIGINT) AS novel
      |      FROM hh JOIN f USING (h))
      |SELECT doc_id, COUNT(*) AS n_shingles, CAST(SUM(novel) AS BIGINT) AS n_novel,
      |       CAST(SUM(novel) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
      |FROM j GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.noveltyScores(Tables.documents(s, dir), col("doc_id"), col("text"), n = 3)
      .orderBy("doc_id")
  }

  // x72 — temperature mixture weights (Sampling.temperatureWeights):
  // α=0.5 source flattening computed FROM the data (x59 consumes given
  // weights); sqrt because IEEE requires it correctly rounded where
  // pow(x, α) is not. Budget 1M tokens.
  val x72 = Q(
    "x72_temperature_mix",
    """WITH d AS (
      |  SELECT doc_id, source,
      |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |  FROM documents),
      |per AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tok FROM d GROUP BY source),
      |w AS (SELECT source, tok, round(sqrt(CAST(tok AS DOUBLE)), 8) AS w_alpha FROM per),
      |t AS (SELECT CAST(SUM(CAST(w_alpha AS DECIMAL(28, 8))) AS DOUBLE) AS wsum FROM w)
      |SELECT source, tok AS n_tokens, w_alpha,
      |       round(w_alpha / wsum, 8) AS weight,
      |       CAST(floor(round(w_alpha / wsum, 8) * CAST(1000000 AS DOUBLE)) AS BIGINT)
      |         AS target_tokens
      |FROM w CROSS JOIN t
      |ORDER BY source""".stripMargin) { (s, dir) =>
    Sampling.temperatureWeights(Tables.documents(s, dir),
      col("doc_id"), col("source"), col("text"), budgetTokens = 1000000L)
      .orderBy("source")
  }

  // x74 — keyed INTERVAL-OVERLAP join (x32 covers only point-in-
  // interval): click activity windows [ts, ts+20m) vs error windows
  // [ts, ts+30m) per user, emitting each overlapping pair once with its
  // overlap length. RangeJoin.intervalOverlap explodes both sides to
  // 30-minute bins, equi-joins on (user, bin), and has the bin holding
  // max(start, start) claim the pair — exact output, ONE shuffle, no
  // dedup. The oracle pays the quadratic same-key join Spark would have
  // planned without the binning.
  val x74 = Q(
    "x74_interval_overlap",
    """SELECT c.event_id AS event_id, er.event_id AS err_id,
      |       CAST(date_diff('second', greatest(c.ts, er.ts),
      |            least(c.ts + INTERVAL 20 MINUTE, er.ts + INTERVAL 30 MINUTE))
      |         AS BIGINT) AS overlap_sec
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      |JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') er
      |  ON c.user_id = er.user_id
      | AND c.ts < er.ts + INTERVAL 30 MINUTE
      | AND er.ts < c.ts + INTERVAL 20 MINUTE
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("c_start"),
        (col("ts") + expr("INTERVAL 20 MINUTES")).as("c_end"))
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ts").as("e_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("e_end"))
    graft.ops.RangeJoin.intervalOverlap(clicks, errors, key = "user_id",
        lStart = "c_start", lEnd = "c_end", rStart = "e_start",
        rEnd = "e_end", binSeconds = 1800)
      .select(col("event_id"), col("err_id"),
        (unix_timestamp(least(col("c_end"), col("e_end"))) -
          unix_timestamp(greatest(col("c_start"), col("e_start"))))
          .as("overlap_sec"))
      .orderBy("event_id", "err_id")
  }

  // x75 — DATA PROFILING: per-column row/null/exact-distinct/min/max in
  // ONE table pass (multi-distinct plans as a single Expand, then a
  // stack unpivot of the one wide row — no per-column rescan, no join).
  // Restricted to exact-render types (bigint, varchar): float/timestamp
  // string rendering is engine-specific and would break hash parity.
  val x75 = Q(
    "x75_profile",
    """WITH p AS (
      |  SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
      |         CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
      |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
      |         CAST(min(doc_id) AS VARCHAR) AS min_val,
      |         CAST(max(doc_id) AS VARCHAR) AS max_val
      |  FROM documents
      |  UNION ALL
      |  SELECT 'source', CAST(count(*) AS BIGINT),
      |         CAST(count(*) - count(source) AS BIGINT),
      |         CAST(count(DISTINCT source) AS BIGINT),
      |         CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'text', CAST(count(*) AS BIGINT),
      |         CAST(count(*) - count(text) AS BIGINT),
      |         CAST(count(DISTINCT text) AS BIGINT),
      |         CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
      |  FROM documents)
      |SELECT * FROM p ORDER BY col_name""".stripMargin) { (s, dir) =>
    Profile.profile(Tables.documents(s, dir),
        Seq("doc_id", "source", "text"))
      .orderBy("col_name")
  }

  // x76 — HISTOGRAM QUANTILE SKETCH: per-source p50/p90/p99 of the
  // whitespace token count from equi-width (32-token) bucket counts.
  // The sketch family's quantile member (x65 HLL distinct, x68 CMS
  // heavy hitters): integer arithmetic end to end, so the estimate is
  // deterministic + mergeable + hash-exact where t-digest/KLL are not;
  // x17 keeps the exact-percentile baseline. Wire traffic is
  // O(sources × buckets) regardless of corpus size.
  val x76 = Q(
    "x76_hist_quantile",
    """WITH t AS (
      |  SELECT source,
      |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS v
      |  FROM documents),
      |h AS (
      |  SELECT source, CAST(floor(CAST(v AS DOUBLE) / 32) AS BIGINT) AS bucket,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM t GROUP BY 1, 2),
      |cw AS (
      |  SELECT source, bucket, c,
      |         SUM(c) OVER (PARTITION BY source ORDER BY bucket) AS cum,
      |         SUM(c) OVER (PARTITION BY source) AS n
      |  FROM h)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_rows,
      |       CAST(min(CASE WHEN cum * 2 >= n THEN bucket * 32 END) AS BIGINT) AS p50_est,
      |       CAST(min(CASE WHEN cum * 10 >= n * 9 THEN bucket * 32 END) AS BIGINT) AS p90_est,
      |       CAST(min(CASE WHEN cum * 100 >= n * 99 THEN bucket * 32 END) AS BIGINT) AS p99_est
      |FROM cw GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).select(col("source"),
      TextAnalysis.wsTokenCount(col("text")).as("v"))
    Sketches.histogramQuantiles(docs, col("source"), col("v"), width = 32L)
      .withColumnRenamed("key", "source")
      .orderBy("source")
  }

  // x77 — SNAPSHOT DELTA (SCD-style incremental maintenance): per-
  // customer 1996-vs-1997 order aggregates classified added / dropped /
  // changed / same. Both snapshots pre-aggregate to one row per key
  // before the full-outer join (key-cardinality rows on the wire, never
  // fact rows); spend goes through the DECIMAL(18,2) accumulator so the
  // 'same' classification compares exact values, not float accumulation
  // order.
  val x77 = Q(
    "x77_snapshot_delta",
    """WITH a AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
      |b AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1)
      |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
      |       a.n_orders AS a_n_orders, a.spend AS a_spend,
      |       b.n_orders AS b_n_orders, b.spend AS b_spend,
      |       CASE WHEN a.o_custkey IS NULL THEN 'added'
      |            WHEN b.o_custkey IS NULL THEN 'dropped'
      |            WHEN a.n_orders = b.n_orders AND a.spend = b.spend THEN 'same'
      |            ELSE 'changed' END AS status
      |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    def snap(yr: Int) = o.where(year(col("o_orderdate")) === yr)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("spend"))
    graft.ops.SnapshotDiff.delta(snap(1996), snap(1997), "o_custkey",
        Seq("n_orders", "spend"))
      .orderBy("o_custkey")
  }

  // x78 — COLLOCATIONS (bigram PMI): top-50 adjacent word pairs by the
  // rational PMI surrogate scale·c(ab)/(c(a)·c(b)) — monotone-
  // equivalent to PMI for ranking with the corpus-constant factor
  // dropped and no IEEE log anywhere (x41/x67's portability rule), so
  // integer-exact on both engines. Both engines divide SEQUENTIALLY
  // (⌊⌊a/b⌋/c⌋ = ⌊a/(b·c)⌋ for positive ints), so the c1·c2 product —
  // which overflows signed-64 before anything else at scale — is
  // never formed. Pairs generate scan-side from each
  // token array (zero position self-join); min-count 3 suppresses
  // hapax-pair noise. Oracle builds the same adjacency by zipping two
  // list slices through DuckDB's positional unnest.
  val x78 = Q(
    "x78_bigram_pmi",
    """WITH toks AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
      |cu AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cw
      |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
      |pr AS (
      |  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      |  FROM toks WHERE len(t) >= 2),
      |cp AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
      |  FROM pr GROUP BY w1, w2 HAVING count(*) >= 3)
      |SELECT cp.w1, cp.w2, cp.c_pair, a.cw AS c1, b.cw AS c2,
      |       CAST((cp.c_pair * CAST(100000000 AS BIGINT)) // a.cw // b.cw
      |         AS BIGINT) AS pmi_score
      |FROM cp JOIN cu a ON a.w = cp.w1 JOIN cu b ON b.w = cp.w2
      |ORDER BY pmi_score DESC, w1, w2
      |LIMIT 50""".stripMargin) { (s, dir) =>
    Vocab.bigramPmi(Tables.documents(s, dir), col("text"), k = 50)
  }

  // x79 — WINNOWING fingerprint pairs (Schleimer/Wilkerson/Aiken 2003,
  // the MOSS scheme): hash every positional 3-gram, keep each 4-window's
  // MINIMUM hash, pair docs sharing a kept fingerprint. The guarantee:
  // any shared run of >= w+n-1 = 6 words yields a shared fingerprint,
  // at ~2/(w+1) = 40% of the x6 index density — the cheap first-pass
  // screen before exact Jaccard. The selection is min-of-window over
  // values (duplicates collapsed per doc), so no tie-break rule exists
  // to diverge on; same hot-bucket df cap as x6 (boilerplate
  // fingerprints are stop-grams, not pair sources).
  val x79 = Q(
    "x79_winnow_pairs",
    """WITH t AS (
      |  SELECT doc_id, trim(text) AS tt, string_split_regex(trim(text), '\s+') AS wd
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(wd) >= 3
      |              THEN list_transform(range(1, len(wd) - 1),
      |                     i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])
      |              ELSE [tt] END AS sh
      |  FROM t),
      |h AS (SELECT doc_id,
      |             list_transform(sh, x -> ('0x' || substring(md5(x), 1, 15))::BIGINT) AS hs
      |      FROM s),
      |f AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
      |           ELSE list_transform(range(1, len(hs) - 2),
      |                  i -> list_min(hs[i : i + 3])) END) AS fps
      |  FROM h),
      |u AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      |keep AS (SELECT fp FROM u GROUP BY fp HAVING count(*) <= 64),
      |o AS (SELECT u.doc_id, u.fp FROM u JOIN keep USING (fp)),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
      |  FROM o a JOIN o b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_shared FROM p
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.sharedFingerprintPairs(Tables.documents(s, dir),
      col("doc_id"), col("text"), n = 3, w = 4, maxFpDf = 64L)
      .orderBy("doc_a", "doc_b")
  }

  // x80 — LEAKAGE-FREE SPLIT: train/val/test assignment keyed on each
  // exact-dup group's representative (min doc_id over the x58
  // normalization fingerprint), so duplicated documents can never
  // straddle train and test — the eval-contamination leak a row-keyed
  // hash split invites. 80/10/10 over the [0,10000) hash space with
  // the same md5 bucket contract as x27; swap the nfp for a
  // connected-components label (x39) to harden against NEAR-dups.
  val x80 = Q(
    "x80_leakage_split",
    """WITH g AS (
      |  SELECT doc_id,
      |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS nfp
      |  FROM documents),
      |r AS (SELECT nfp, min(doc_id) AS rep_id FROM g GROUP BY nfp),
      |j AS (
      |  SELECT g.doc_id, r.rep_id,
      |         ('0x' || substring(md5(CAST(r.rep_id AS VARCHAR)), 1, 15))::BIGINT
      |           % 10000 AS bucket
      |  FROM g JOIN r USING (nfp))
      |SELECT doc_id, rep_id, CAST(bucket AS BIGINT) AS bucket,
      |       CASE WHEN bucket < 8000 THEN 'train'
      |            WHEN bucket < 9000 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM j ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.leakageFreeSplit(Tables.documents(s, dir), col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .select(col("id").as("doc_id"), col("rep_id"), col("bucket"), col("split"))
      .orderBy("doc_id")
  }

  // x81 — BIGRAM-LM FLUENCY SCORE: each doc scored by the integer mean
  // of ⌊scale·c(w1w2)/c(w1)⌋ over its adjacent bigrams — the
  // perplexity-filter quality signal with the IEEE log replaced by the
  // family's rational surrogate (exact on both engines). Low score =
  // improbable word transitions (garble); high = boilerplate-
  // predictable. The per-doc pair table is built once (checkpointed)
  // and feeds both the corpus pair counts and the join-back.
  val x81 = Q(
    "x81_bigram_lm_score",
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |cu AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cw
      |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
      |pr AS (
      |  SELECT doc_id, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      |  FROM toks WHERE len(t) >= 2),
      |dp AS (
      |  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n_occ
      |  FROM pr GROUP BY 1, 2, 3),
      |cp AS (
      |  SELECT w1, w2, CAST(sum(n_occ) AS BIGINT) AS c_pair
      |  FROM dp GROUP BY 1, 2),
      |sc AS (
      |  SELECT dp.doc_id, dp.n_occ,
      |         (cp.c_pair * CAST(100000000 AS BIGINT)) // cu.cw AS contrib
      |  FROM dp JOIN cp USING (w1, w2) JOIN cu ON cu.w = dp.w1)
      |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_bigrams,
      |       CAST(sum(n_occ * contrib) // sum(n_occ) AS BIGINT) AS lm_score
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Vocab.bigramLmScore(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy("doc_id")
  }

  // x82 — RENDEZVOUS (HRW) SHARDING: each doc's shard is the argmax of
  // the md5-derived hash over (doc_id, shard) candidates — consistent
  // placement where a shard-count resize moves ~1/(S+1) of the corpus
  // instead of (S-1)/S under hash-mod. The query emits the S=8 and S=9
  // assignments side by side with the moved flag, so the
  // minimal-movement property is IN the verified result, not just a
  // spec claim. Hash ties fall to the larger shard id via the struct
  // comparison (same total order on both engines).
  val x82 = Q(
    "x82_rendezvous_shard",
    """WITH c AS (
      |  SELECT doc_id, s,
      |         ('0x' || substring(md5(doc_id::VARCHAR || ':' || s::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM documents, generate_series(0, 8) t(s))
      |SELECT doc_id,
      |       CAST((max(struct_pack(h := h, shard := s)) FILTER (WHERE s < 8)).shard
      |         AS BIGINT) AS shard8,
      |       CAST((max(struct_pack(h := h, shard := s))).shard AS BIGINT) AS shard9,
      |       CAST(CASE WHEN (max(struct_pack(h := h, shard := s)) FILTER (WHERE s < 8)).shard
      |                  <> (max(struct_pack(h := h, shard := s))).shard
      |            THEN 1 ELSE 0 END AS BIGINT) AS moved
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
    d.select(col("doc_id"),
        Sampling.rendezvousShard(col("doc_id"), 8).as("shard8"),
        Sampling.rendezvousShard(col("doc_id"), 9).as("shard9"))
      .withColumn("moved",
        when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  // x83 — CONTRAST KEYWORDS (Fightin' Words, rational form): the 50
  // words most characteristic of the English slice vs the rest, scored
  // by add-one-smoothed odds ⌊scale·(ca+1)/(cb+1)⌋ — the log-odds
  // ranking with the corpus-constant factor dropped and no IEEE log.
  // One combinable conditional-sum agg; top-k via TakeOrdered.
  val x83 = Q(
    "x83_contrast_keywords",
    """WITH toks AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS t,
      |         lang = 'en' AS in_a
      |  FROM documents),
      |cnt AS (
      |  SELECT w,
      |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM (SELECT unnest(t) AS w, in_a FROM toks) GROUP BY w
      |  HAVING sum(CASE WHEN in_a THEN 1 ELSE 0 END)
      |       + sum(CASE WHEN in_a THEN 0 ELSE 1 END) >= 5)
      |SELECT w, ca, cb,
      |       CAST(((ca + 1) * CAST(100000000 AS BIGINT)) // (cb + 1) AS BIGINT)
      |         AS odds_a
      |FROM cnt
      |ORDER BY odds_a DESC, w
      |LIMIT 50""".stripMargin) { (s, dir) =>
    TextAnalysis.contrastKeywords(Tables.documents(s, dir), col("text"),
      col("lang") === "en", k = 50)
  }

  // x84 — ANN RECALL@K EVALUATION: the scaled-stride IVF (x63's exact
  // configuration) measured against the brute-force ground truth (x9's
  // exact top-5) on the same 10-query sample — recall as a VERIFIED
  // RESULT, not a claim. The ground truth is |queries|·N (linear for a
  // fixed sample), the IVF side is the x63 plan, and the intersection
  // joins two 50-row sides. Integer recall_pct; both rankings share
  // the (sim desc, neighbor_id) total order so ties cannot diverge.
  val x84 = Q(
    "x84_ann_recall",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e
      |          WHERE vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |sims AS (
      |  SELECT e.vec_id, s.cid, round(list_cosine_similarity(e.emb, s.cemb), 6) AS csim
      |  FROM e CROSS JOIN seeds s),
      |best AS (SELECT vec_id, max(csim) AS best_sim FROM sims GROUP BY vec_id),
      |asg AS (
      |  SELECT sims.vec_id, min(cid) AS cid
      |  FROM sims JOIN best ON sims.vec_id = best.vec_id AND sims.csim = best.best_sim
      |  GROUP BY sims.vec_id),
      |qprobe AS (
      |  SELECT qid, cid FROM (
      |    SELECT vec_id AS qid, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS pr
      |    FROM sims WHERE vec_id < 10) q
      |  WHERE pr <= 2),
      |cand AS (
      |  SELECT q.qid, a.vec_id FROM asg a JOIN qprobe q ON a.cid = q.cid
      |  WHERE a.vec_id <> q.qid),
      |scored AS (
      |  SELECT cand.qid, cand.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(qe.emb, ce.emb), 6) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM scored),
      |approx AS (SELECT qid, neighbor_id FROM r WHERE rank <= 5),
      |bp AS (
      |  SELECT q.vec_id AS qid, e2.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(q.emb, e2.emb), 6) AS sim
      |  FROM e q, e e2
      |  WHERE q.vec_id < 10 AND e2.vec_id <> q.vec_id),
      |br AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |       FROM bp),
      |ex AS (SELECT qid, neighbor_id FROM br WHERE rank <= 5),
      |hits AS (
      |  SELECT ex.qid, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM ex JOIN approx ON ex.qid = approx.qid
      |                     AND ex.neighbor_id = approx.neighbor_id
      |  GROUP BY ex.qid)
      |SELECT q.qid,
      |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |       CAST((coalesce(h.n_hit, 0) * CAST(100 AS BIGINT)) // CAST(5 AS BIGINT)
      |         AS BIGINT) AS recall_pct
      |FROM (SELECT DISTINCT qid FROM ex) q LEFT JOIN hits h ON q.qid = h.qid
      |ORDER BY q.qid""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    val stride = Similarity.strideForCells(embs, cells = 40)
    Similarity.recallAtK(embs, Similarity.seedCentroids(embs, stride),
      (0L until 10L).toSeq, k = 5, nprobe = 2)
      .orderBy("qid")
  }

  // x85 — CLUSTER MEDOIDS, pair-join-free: each IVF cell's most central
  // member via n·||x||² − 2·x·S + Σ||y||² — O(N·d) total where the
  // naive within-cell pair join pays Σ|c|² (x57 needs the pairs for
  // dedup; representative-picking does NOT). Component sums and Σ||y||²
  // run through DECIMAL(28,16); scores round to 6 dp; the argmin tie
  // falls to the lower vec_id via the struct order.
  val x85 = Q(
    "x85_cluster_medoids",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e
      |          WHERE vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |sims AS (
      |  SELECT e.vec_id, s.cid, round(list_cosine_similarity(e.emb, s.cemb), 6) AS csim
      |  FROM e CROSS JOIN seeds s),
      |best AS (SELECT vec_id, max(csim) AS best_sim FROM sims GROUP BY vec_id),
      |asg AS (
      |  SELECT sims.vec_id, min(cid) AS cid
      |  FROM sims JOIN best ON sims.vec_id = best.vec_id AND sims.csim = best.best_sim
      |  GROUP BY sims.vec_id),
      |mem AS (SELECT a.cid, a.vec_id, e.emb FROM asg a JOIN e ON e.vec_id = a.vec_id),
      |cs AS (SELECT cid, unnest(range(1, len(emb) + 1)) AS i, unnest(emb) AS v FROM mem),
      |sv AS (SELECT cid, list(CAST(s AS DOUBLE) ORDER BY i) AS sv
      |       FROM (SELECT cid, i, sum(CAST(v AS DECIMAL(28,16))) AS s
      |             FROM cs GROUP BY cid, i)
      |       GROUP BY cid),
      |st AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
      |              CAST(sum(CAST(list_dot_product(emb, emb) AS DECIMAL(28,16)))
      |                AS DOUBLE) AS sumsq
      |       FROM mem GROUP BY cid),
      |sc AS (SELECT mem.cid, mem.vec_id,
      |              round(st.n_members * list_dot_product(mem.emb, mem.emb)
      |                    - 2 * list_dot_product(mem.emb, sv.sv) + st.sumsq, 6) AS ssd
      |       FROM mem JOIN sv USING (cid) JOIN st USING (cid))
      |SELECT sc.cid, st.n_members,
      |       (min(struct_pack(ssd := ssd, vec_id := vec_id))).vec_id AS medoid_id,
      |       (min(struct_pack(ssd := ssd, vec_id := vec_id))).ssd AS medoid_ssd
      |FROM sc JOIN st USING (cid)
      |GROUP BY sc.cid, st.n_members
      |ORDER BY cid""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    val stride = Similarity.strideForCells(embs, cells = 40)
    Similarity.cellMedoids(embs, Similarity.seedCentroids(embs, stride))
      .orderBy("cid")
  }

  // x86 — K-CORE PEELING (3 rounds, k=16) on the same capped co-shingle
  // graph as x64/x73 (shared edge CTEs): survivors of three
  // drop-degree-under-16 rounds with their residual degree — the
  // dense-boilerplate-family filter expressed as unrolled
  // agg + double-semi-join rounds, hash-exact on both engines.
  val x86 = Q(
    "x86_kcore",
    s"""WITH $coShingleEdgeCtes,
      |k1 AS (SELECT src FROM deg WHERE deg >= 16),
      |e1 AS (SELECT e.src, e.dst FROM e
      |       JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
      |d2 AS (SELECT src, COUNT(*) AS dg FROM e1 GROUP BY src),
      |k2 AS (SELECT src FROM d2 WHERE dg >= 16),
      |e2 AS (SELECT e1.src, e1.dst FROM e1
      |       JOIN k2 a ON e1.src = a.src JOIN k2 b ON e1.dst = b.src),
      |d3 AS (SELECT src, COUNT(*) AS dg FROM e2 GROUP BY src),
      |k3 AS (SELECT src FROM d3 WHERE dg >= 16),
      |e3 AS (SELECT e2.src, e2.dst FROM e2
      |       JOIN k3 a ON e2.src = a.src JOIN k3 b ON e2.dst = b.src)
      |SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
      |FROM e3 GROUP BY src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Graph.kCorePeel(
      Graph.coShingleEdges(Tables.documents(s, dir).where(col("doc_id") < 1500),
        col("doc_id"), col("text"), n = 3, maxShingleDf = 64L),
      k = 16, rounds = 3)
      .orderBy("doc_id")
  }

  // x87 — DSIR TARGET-AFFINITY (importance-resampling selection
  // scores): every doc scored by the n_occ-weighted integer mean of
  // ⌊scale·(c_tgt+1)/(c_all+1)⌋ over its HASHED bigram features
  // (md5 mod 4096 — the paper's trick that caps the feature table at
  // `buckets` rows, so the ratio join-back broadcasts at ANY corpus
  // size). Target slice: lang='en'. The rational surrogate of the
  // DSIR log-weight — no IEEE log, hash-exact.
  val x87 = Q(
    "x87_dsir_affinity",
    """WITH toks AS (
      |  SELECT doc_id, lang = 'en' AS in_t,
      |         string_split_regex(trim(text), '\s+') AS t
      |  FROM documents),
      |pr AS (
      |  SELECT doc_id, in_t, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
      |  FROM toks WHERE len(t) >= 2),
      |dp AS (
      |  SELECT doc_id, in_t,
      |         ('0x' || substring(md5(w1 || ' ' || w2), 1, 15))::BIGINT % 4096 AS h,
      |         CAST(count(*) AS BIGINT) AS n_occ
      |  FROM pr GROUP BY 1, 2, 3),
      |feat AS (
      |  SELECT h, CAST(sum(n_occ) AS BIGINT) AS c_all,
      |         CAST(sum(CASE WHEN in_t THEN n_occ ELSE 0 END) AS BIGINT) AS c_tgt
      |  FROM dp GROUP BY h),
      |fr AS (SELECT h, ((c_tgt + 1) * CAST(100000000 AS BIGINT)) // (c_all + 1) AS r
      |       FROM feat)
      |SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_feats,
      |       CAST(sum(n_occ * r) // sum(n_occ) AS BIGINT) AS dsir_score
      |FROM dp JOIN fr USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.dsirAffinity(Tables.documents(s, dir), col("doc_id"), col("text"),
      col("lang") === "en")
      .orderBy("doc_id")
  }

  // x88 — SIMPSON LEXICAL DIVERSITY: P(two random token positions
  // differ) as the integer (n²−Σc²)·scale div n² — the distribution-
  // wide diversity signal that catches low-entropy spam the verbatim
  // dup-ratios (x29) under-flag. Two combinable aggs, no joins.
  val x88 = Q(
    "x88_simpson_diversity",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE trim(text) <> ''),
      |wc AS (
      |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      |  FROM toks GROUP BY doc_id, w),
      |m AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_distinct,
      |         CAST(sum(c * c) AS BIGINT) AS sumsq
      |  FROM wc GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_distinct,
      |       CAST((n_tokens * n_tokens - sumsq) * CAST(10000 AS BIGINT)
      |            // (n_tokens * n_tokens) AS BIGINT) AS simpson_div
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.simpsonDiversity(Tables.documents(s, dir), col("doc_id"),
      col("text"))
      .orderBy("doc_id")
  }

  // x89 — TOKEN-BUDGET CORPUS CUT: keep each source's docs in md5-hash
  // order while the running token total fits 1,000 — corpora are sized
  // in TOKENS, and the cut must be engine- and rerun-reproducible
  // (x48's row cap can't hit a token target). One stratum shuffle; the
  // cumulative window rides it.
  val x89 = Q(
    "x89_token_budget_cut",
    """WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
      |         ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tok,
      |         CAST(sum(n_tok) OVER (PARTITION BY source
      |                ORDER BY h ASC, doc_id ASC
      |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |  FROM t)
      |SELECT doc_id, source, n_tok, cum_tok
      |FROM c WHERE cum_tok <= 1000 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.tokenBudgetCut(Tables.documents(s, dir), col("source"),
      col("doc_id"), col("text"), budget = 1000L)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
      .orderBy("doc_id")
  }

  // x90 — CONTAMINATION SCORE REPORT: x38's benchmark/train split
  // (doc_id < 25 = the pseudo-benchmark) but SCORED per doc instead of
  // dropped — n-gram overlap counts + integer per-10k fraction, the
  // audit view a contamination review applies thresholds to. Same
  // hash-only shuffles; the per-doc shingle rows feed both the
  // denominator and the hit join from one checkpoint.
  val x90 = Q(
    "x90_contamination_report",
    """WITH d AS (
      |  SELECT doc_id, trim(text) AS tt, text,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, text,
      |         CASE WHEN len(w) >= 5
      |              THEN list_distinct(list_transform(range(1, len(w) - 3),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
      |              ELSE [tt] END AS sh
      |  FROM d),
      |u AS (
      |  SELECT doc_id, ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
      |  FROM s),
      |bs AS (SELECT DISTINCT h FROM u WHERE doc_id < 25),
      |nsh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
      |        FROM u WHERE doc_id >= 25 GROUP BY doc_id),
      |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      |        FROM u WHERE doc_id >= 25 AND h IN (SELECT h FROM bs)
      |        GROUP BY doc_id)
      |SELECT n.doc_id, n.n_shingles,
      |       CAST(coalesce(t.n_hits, 0) AS BIGINT) AS n_hits,
      |       CAST(coalesce(t.n_hits, 0) * CAST(10000 AS BIGINT) // n.n_shingles
      |         AS BIGINT) AS contam_pct
      |FROM nsh n LEFT JOIN hit t ON n.doc_id = t.doc_id
      |ORDER BY n.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Dedup.contaminationScores(
      docs.where(col("doc_id") >= 25),
      docs.where(col("doc_id") < 25),
      col("doc_id"), col("text"), n = 5)
      .orderBy("doc_id")
  }

  // x91 — PREFIX-FILTERED EXACT JACCARD JOIN: the x6 output contract
  // (computed over 60-bit shingle hashes) from a prefix-filtered
  // inverted index — only each doc's (1-t)·|S|+1 RAREST shingles are
  // indexed, so the candidate join touches a fraction of the postings
  // and lands on df~1 buckets. The oracle deliberately uses the LINEAR
  // inverted-index SQL (not x6's quadratic pair scan): same final set
  // by the prefix-filter exactness lemma.
  val x91 = Q(
    "x91_prefix_jaccard",
    """WITH t AS (
      |  SELECT doc_id, trim(text) AS tt,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE doc_id < 1500),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [tt] END AS sh
      |  FROM t),
      |u AS (
      |  SELECT DISTINCT doc_id,
      |         ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
      |  FROM s),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY doc_id),
      |c AS (
      |  SELECT ua.doc_id AS a, ub.doc_id AS b, CAST(count(*) AS BIGINT) AS common
      |  FROM u ua JOIN u ub ON ua.h = ub.h AND ua.doc_id < ub.doc_id
      |  GROUP BY 1, 2)
      |SELECT c.a, c.b,
      |       CAST(common AS DOUBLE) /
      |         CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
      |FROM c JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
      |WHERE CAST(common AS DOUBLE) /
      |      CAST(sa.n + sb.n - common AS DOUBLE) >= 0.5
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Dedup.prefixJaccardPairs(
      Tables.documents(s, dir).where(col("doc_id") < 1500),
      col("doc_id"), col("text"), n = 3, threshold = 0.5)
      .orderBy("a", "b")
  }

  // x92 — SORTED-NEIGHBORHOOD DEDUP (merge/purge): global sort on a
  // 12-char lowercase blocking key, window of 8 consecutive rows,
  // exact hash-Jaccard >= 0.5 inside the window only. Candidate count
  // is EXACTLY N·7 regardless of skew — the linear-cost regime next to
  // x6/x91 (inverted index) and x7 (LSH). Spark side ranks with the
  // two-phase rank (no global window).
  val x92 = Q(
    "x92_sorted_neighborhood",
    """WITH t AS (
      |  SELECT doc_id, trim(text) AS tt, lower(trim(text)) AS lt,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE doc_id < 1500),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [tt] END AS sh
      |  FROM t),
      |u AS (
      |  SELECT DISTINCT doc_id,
      |         ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
      |  FROM s),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY doc_id),
      |r AS (
      |  SELECT doc_id,
      |         row_number() OVER (ORDER BY substring(lt, 1, 12), doc_id) AS rn
      |  FROM t),
      |p AS (
      |  SELECT least(ra.doc_id, rb.doc_id) AS a,
      |         greatest(ra.doc_id, rb.doc_id) AS b
      |  FROM r ra JOIN r rb ON rb.rn > ra.rn AND rb.rn < ra.rn + 8),
      |c AS (
      |  SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS common
      |  FROM p JOIN u ua ON ua.doc_id = p.a
      |         JOIN u ub ON ub.doc_id = p.b AND ub.h = ua.h
      |  GROUP BY 1, 2)
      |SELECT c.a, c.b,
      |       CAST(common AS DOUBLE) /
      |         CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
      |FROM c JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
      |WHERE CAST(common AS DOUBLE) /
      |      CAST(sa.n + sb.n - common AS DOUBLE) >= 0.5
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    Dedup.sortedNeighborPairs(
      Tables.documents(s, dir).where(col("doc_id") < 1500),
      col("doc_id"), col("text"), keyLen = 12, window = 8, n = 3,
      threshold = 0.5)
      .orderBy("a", "b")
  }

  // x93 — PARETO-FRONTIER DATA SELECTION: the docs on the skyline of
  // (n_tokens, simpson_div) — no other doc is at least as long AND at
  // least as lexically diverse with one strict. The oracle states the
  // N² dominance NOT EXISTS directly; the engine runs the 2-D sweep
  // (per-x max + running max over distinct x + frontier join-back),
  // which is one combinable groupBy and a |distinct x|-row window.
  val x93 = Q(
    "x93_pareto_frontier",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE trim(text) <> ''),
      |wc AS (
      |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      |  FROM toks GROUP BY doc_id, w),
      |m AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |         CAST(sum(c * c) AS BIGINT) AS sumsq
      |  FROM wc GROUP BY doc_id),
      |mm AS (
      |  SELECT doc_id, n_tokens,
      |         CAST((n_tokens * n_tokens - sumsq) * CAST(10000 AS BIGINT)
      |              // (n_tokens * n_tokens) AS BIGINT) AS simpson_div
      |  FROM m)
      |SELECT a.doc_id, a.n_tokens, a.simpson_div
      |FROM mm a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM mm b
      |  WHERE b.n_tokens >= a.n_tokens AND b.simpson_div >= a.simpson_div
      |    AND (b.n_tokens > a.n_tokens OR b.simpson_div > a.simpson_div))
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val metrics = TextAnalysis.simpsonDiversity(
      Tables.documents(s, dir), col("doc_id"), col("text"))
    Curation.paretoFrontier(metrics, col("doc_id"), col("n_tokens"),
      col("simpson_div"))
      .select(col("doc_id"), col("x").as("n_tokens"),
        col("y").as("simpson_div"))
      .orderBy("doc_id")
  }

  // x94 — DISTRIBUTION DRIFT (total variation): event_type rate shift
  // between the stream's first and second halves, in exact per-million
  // integers (DECIMAL products, sequential DIV — the x78 floor-
  // composition contract; no floats, no logs). One scan, one
  // combinable groupBy, broadcast 1-row totals.
  val x94 = Q(
    "x94_category_drift",
    """WITH e AS (
      |  SELECT event_type,
      |         CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
      |              THEN 1 ELSE 0 END AS ina
      |  FROM events),
      |per AS (
      |  SELECT event_type AS category,
      |         CAST(sum(ina) AS BIGINT) AS c1,
      |         CAST(sum(1 - ina) AS BIGINT) AS c2
      |  FROM e GROUP BY 1),
      |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |             CAST(sum(c2) AS BIGINT) AS n2 FROM per)
      |SELECT category, c1, c2,
      |       CAST(CAST(c1 AS HUGEINT) * 1000000 // n1 AS BIGINT) AS r1_e6,
      |       CAST(CAST(c2 AS HUGEINT) * 1000000 // n2 AS BIGINT) AS r2_e6,
      |       CAST(abs(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
      |            * 1000000 // n1 // n2 AS BIGINT) AS tv_e6
      |FROM per, t
      |ORDER BY category""".stripMargin) { (s, dir) =>
    graft.ops.SnapshotDiff.categoryDrift(Tables.events(s, dir), col("event_type"),
      col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .orderBy("category")
  }

  // x95 — VOCABULARY COVERAGE / OOV RATE: top-256 corpus vocab (count
  // desc, word asc — total deterministic order), per-doc out-of-vocab
  // per-million. One tokenize scan feeds both the vocab count and the
  // scoring; the cut is TakeOrderedAndProject (heap, no global sort)
  // and the 256-row vocab broadcasts.
  val x95 = Q(
    "x95_oov_rate",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE trim(text) <> ''),
      |cnt AS (SELECT w, count(*) AS cw FROM toks GROUP BY w),
      |vocab AS (SELECT w FROM cnt ORDER BY cw DESC, w LIMIT 256),
      |per AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |         CAST(sum(CASE WHEN w IN (SELECT w FROM vocab)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab
      |  FROM toks GROUP BY doc_id)
      |SELECT doc_id, n_tok, n_in_vocab,
      |       CAST((n_tok - n_in_vocab) * CAST(1000000 AS BIGINT)
      |            // n_tok AS BIGINT) AS oov_e6
      |FROM per ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Vocab.oovRates(Tables.documents(s, dir), col("doc_id"), col("text"),
      v = 256)
      .orderBy("doc_id")
  }

  // x96 — DUPLICATE-CLUSTER SIZE HISTOGRAM: x1's exact-dedup groups
  // log2-binned — the power-law view a dedup review reads (how much
  // of the corpus sits in 1-copy vs 2-3-copy vs 1000+-copy clusters).
  // Buckets via a broadcast 63-row power-of-two range join, never
  // floor(log2(x)) floats (engine rounding differs at exact powers).
  val x96 = Q(
    "x96_dup_size_hist",
    """WITH g AS (
      |  SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS sz
      |  FROM documents GROUP BY 1),
      |b AS (
      |  SELECT CAST(power(2, r) AS BIGINT) AS lo,
      |         CAST(power(2, r + 1) AS BIGINT) - 1 AS hi
      |  FROM (SELECT unnest(range(0, 40)) AS r))
      |SELECT b.lo AS bucket_lo,
      |       CAST(count(*) AS BIGINT) AS n_entities,
      |       CAST(sum(sz) AS BIGINT) AS total
      |FROM g JOIN b ON g.sz >= b.lo AND g.sz <= b.hi
      |GROUP BY 1 ORDER BY bucket_lo""".stripMargin) { (s, dir) =>
    Profile.log2Hist(
      Dedup.exactGroups(Tables.documents(s, dir), col("doc_id"), col("text")),
      col("n_copies"))
      .orderBy("bucket_lo")
  }

  // x97 — CURRICULUM MIXTURE INTERLEAVE: deterministic global training
  // order where every prefix matches the source mix — per-source
  // hash-shuffled rank scaled onto the global axis (rn·N div c_s).
  // One source-partitioned window + two broadcast joins; the global
  // order lives in the key, not in a global sort.
  val x97 = Q(
    "x97_curriculum_interleave",
    """WITH d AS (
      |  SELECT doc_id, source,
      |         ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |         CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
      |              AS BIGINT) AS rn_src
      |  FROM d),
      |c AS (SELECT source, CAST(count(*) AS BIGINT) AS cs FROM d GROUP BY source),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
      |SELECT doc_id, r.source, rn_src,
      |       CAST(CAST(rn_src AS HUGEINT) * n // cs AS BIGINT) AS ikey
      |FROM r JOIN c ON r.source = c.source, t
      |ORDER BY ikey, r.source, rn_src""".stripMargin) { (s, dir) =>
    Sampling.curriculumInterleave(Tables.documents(s, dir), col("doc_id"),
      col("source"))
      .orderBy("ikey", "source", "rn_src")
  }

  // x98 — PER-SOURCE QUANTILE-RANK NORMALIZATION: n_chars replaced by
  // its within-source quantile position (rn·1e6 div c_s, id
  // tie-break) — one threshold then means the same thing in every
  // source. One stratum window + broadcast counts; exact floors.
  val x98 = Q(
    "x98_quantile_norm",
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      |r AS (
      |  SELECT doc_id, source, n_chars,
      |         CAST(row_number() OVER (PARTITION BY source
      |                ORDER BY n_chars, doc_id) AS BIGINT) AS rn
      |  FROM d),
      |c AS (SELECT source, CAST(count(*) AS BIGINT) AS cs FROM d GROUP BY source)
      |SELECT doc_id, r.source AS stratum, n_chars AS score,
      |       CAST(rn * CAST(1000000 AS BIGINT) // cs AS BIGINT) AS q_e6
      |FROM r JOIN c ON r.source = c.source
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Sampling.quantileNormalize(Tables.documents(s, dir), col("doc_id"),
      col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  // x99 — IVF CELL LABEL PURITY: the index-quality diagnostic — per
  // cell, member count, majority label (tie -> min label) and purity
  // per-million. Same scale-invariant seeding + argmax assignment as
  // x63 (broadcast centroids, combinable max_by, no embedding
  // shuffle); the purity agg adds two combinable groupBys on slim
  // (cid, label) rows.
  val x99 = Q(
    "x99_ivf_purity",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e
      |          WHERE vec_id % (SELECT greatest(count(*) // 40, 1) FROM e) = 7),
      |sims AS (
      |  SELECT e.vec_id, s.cid, round(list_cosine_similarity(e.emb, s.cemb), 6) AS csim
      |  FROM e CROSS JOIN seeds s),
      |best AS (SELECT vec_id, max(csim) AS best_sim FROM sims GROUP BY vec_id),
      |asg AS (
      |  SELECT sims.vec_id, min(cid) AS cid
      |  FROM sims JOIN best ON sims.vec_id = best.vec_id AND sims.csim = best.best_sim
      |  GROUP BY sims.vec_id),
      |pc AS (
      |  SELECT asg.cid, em.label, CAST(count(*) AS BIGINT) AS cnt
      |  FROM asg JOIN embeddings em ON asg.vec_id = em.vec_id
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT cid, CAST(sum(cnt) AS BIGINT) AS n_members,
      |         CAST(max(cnt) AS BIGINT) AS c_major
      |  FROM pc GROUP BY cid),
      |lab AS (
      |  SELECT pc.cid, min(pc.label) AS label_major
      |  FROM pc JOIN agg ON pc.cid = agg.cid AND pc.cnt = agg.c_major
      |  GROUP BY 1)
      |SELECT agg.cid, n_members, label_major,
      |       CAST(c_major * CAST(1000000 AS BIGINT) // n_members AS BIGINT)
      |         AS purity_e6
      |FROM agg JOIN lab ON agg.cid = lab.cid
      |ORDER BY agg.cid""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val en = Similarity.withNorm(e, col("vec_id"), col("embedding"))
    val cents = Similarity.seedCentroids(en, Similarity.strideForCells(en, 40))
    Similarity.ivfAssign(en, cents)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy("cid", "label").agg(count(lit(1)).as("cnt"))
      .groupBy("cid")
      .agg(sum(col("cnt")).as("n_members"),
        max(col("cnt")).as("c_major"),
        max_by(col("label"), struct(col("cnt"), (-col("label")).as("nl")))
          .as("label_major"))
      .select(col("cid"), col("n_members"), col("label_major"),
        expr("c_major * 1000000L DIV n_members").as("purity_e6"))
      .orderBy("cid")
  }

  // x100 — FRAME-SAMPLING PLAN: per-video decode schedule — integer
  // stride (n_frames+3) div 4, indices 0, s, 2s... (≤4 frames, frame 0
  // always). Scan-side explode, zero shuffle; the planning half of
  // multimodal decode (x12 carries the decoder seam).
  val x100 = Q(
    "x100_frame_sample",
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |         CAST(1 + octet_length(encode(text)) % 30 AS INT) AS n_frames
      |  FROM documents WHERE doc_id % 3 = 2),
      |p AS (
      |  SELECT media_id, n_frames,
      |         CAST((n_frames + 3) // 4 AS INT) AS stride
      |  FROM m)
      |SELECT media_id, n_frames, stride,
      |       CAST(unnest(range(0, n_frames, stride)) AS INT) AS frame_idx
      |FROM p
      |ORDER BY media_id, frame_idx""".stripMargin) { (s, dir) =>
    Multimodal.frameSamplePlan(
      Multimodal.metaColumns(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF()),
      maxFrames = 4)
      .orderBy("media_id", "frame_idx")
  }

  // x101 — HOPPING-WINDOW DISTINCT USERS: x51's 1h/30min hop but with
  // an exact COUNT(DISTINCT) — reach, not volume. Spark's native
  // window() + distinct agg; the oracle mirrors the hop with the
  // two-bucket unnest.
  val x101 = Q(
    "x101_hopping_distinct",
    """WITH b AS (
      |  SELECT epoch_us(ts) // 1800000000 AS hb, user_id FROM events),
      |w AS (
      |  SELECT unnest([hb * 1800000000, (hb - 1) * 1800000000]) AS ws, user_id
      |  FROM b)
      |SELECT make_timestamp(ws) AS wstart,
      |       make_timestamp(ws + 3600000000) AS wend,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM w GROUP BY ws
      |ORDER BY wstart""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start").as("wstart"), col("w.end").as("wend"),
        col("n_events"), col("n_users"))
      .orderBy("wstart")
  }

  // x102 — EMBEDDING NORM PROFILE per label: exact integer min/max/
  // floor-mean of round(L2·1e6) — the degenerate-encoder check. The
  // norm is the same sequential-fold dot + IEEE sqrt as the kNN
  // family; only (label, long) rows shuffle.
  val x102 = Q(
    "x102_norm_profile",
    """WITH e AS (
      |  SELECT label,
      |         CAST(round(sqrt(list_dot_product(embedding::DOUBLE[],
      |                                          embedding::DOUBLE[])) * 1000000)
      |              AS BIGINT) AS norm_e6
      |  FROM embeddings)
      |SELECT label, CAST(count(*) AS BIGINT) AS n,
      |       min(norm_e6) AS min_e6, max(norm_e6) AS max_e6,
      |       CAST(sum(norm_e6) // count(*) AS BIGINT) AS mean_e6
      |FROM e GROUP BY label
      |ORDER BY label""".stripMargin) { (s, dir) =>
    Similarity.normProfile(Tables.embeddings(s, dir), col("embedding"),
      col("label"))
      .orderBy("label")
  }

  // x103 — PER-SOURCE LENGTH QUANTILES: exact order-statistic
  // p25/p50/p75/p99 of n_chars per source (position ceil(p·n/100) in
  // the sorted multiset — deterministic under ties, no interpolation,
  // no sketch). One stratum window + broadcast counts + conditional
  // agg: the data-card table.
  val x103 = Q(
    "x103_length_quantiles",
    """WITH d AS (SELECT source, n_chars FROM documents),
      |r AS (
      |  SELECT source AS stratum, n_chars AS v,
      |         CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars)
      |              AS BIGINT) AS rn
      |  FROM d),
      |c AS (SELECT source AS stratum, CAST(count(*) AS BIGINT) AS cs
      |      FROM d GROUP BY 1)
      |SELECT r.stratum, CAST(count(*) AS BIGINT) AS n,
      |       max(CASE WHEN rn = (25 * cs + 99) // 100 THEN v END) AS p25,
      |       max(CASE WHEN rn = (50 * cs + 99) // 100 THEN v END) AS p50,
      |       max(CASE WHEN rn = (75 * cs + 99) // 100 THEN v END) AS p75,
      |       max(CASE WHEN rn = (99 * cs + 99) // 100 THEN v END) AS p99
      |FROM r JOIN c ON r.stratum = c.stratum
      |GROUP BY r.stratum
      |ORDER BY r.stratum""".stripMargin) { (s, dir) =>
    Profile.groupQuantiles(Tables.documents(s, dir), col("source"),
      col("n_chars"), Seq(25, 50, 75, 99), lowCardStrata = true)
      .orderBy("stratum")
  }

  // x104 — LANGUAGE CONFUSION MATRIX: x4's heuristic prediction
  // cross-tabbed against the metadata lang, with per-true-lang recall
  // per-million — the eval view that tells you where the language
  // filter bleeds. One classifier scan + two combinable groupBys +
  // a broadcast per-lang total join; exact floors.
  val x104 = Q(
    "x104_lang_confusion",
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |         regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk,
      |         $langHitsSql
      |  FROM documents),
      |p AS (
      |  SELECT lang,
      |       CASE WHEN has_cjk THEN 'zh'
      |            WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      |            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      |            WHEN s_de >= s_fr THEN 'de'
      |            ELSE 'fr' END AS predicted
      |  FROM t),
      |cm AS (
      |  SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
      |  FROM p GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cm GROUP BY 1)
      |SELECT cm.lang, predicted, n,
      |       CAST(n * CAST(1000000 AS BIGINT) // n_lang AS BIGINT) AS frac_e6
      |FROM cm JOIN tot ON cm.lang = tot.lang
      |ORDER BY cm.lang, predicted""".stripMargin) { (s, dir) =>
    val cm = Tables.documents(s, dir)
      .select(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
    val tot = cm.groupBy("lang").agg(sum(col("n")).as("n_lang"))
    cm.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("predicted"), col("n"),
        expr("n * 1000000L DIV n_lang").as("frac_e6"))
      .orderBy("lang", "predicted")
  }

  // x105 — JOIN-KEY SKEW PROFILE: top-10 heaviest l_orderkey values +
  // the table-wide skew factor (hottest/mean per-million) — the
  // measurement you take BEFORE choosing a salting factor (x23) or
  // trusting AQE's skew split. Combinable count + TakeOrdered +
  // broadcast 1-row totals.
  val x105 = Q(
    "x105_key_skew",
    """WITH c AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS key_val,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |             CAST(sum(cnt) AS BIGINT) AS n_rows,
      |             CAST(max(cnt) AS BIGINT) AS max_cnt FROM c),
      |top AS (SELECT key_val, cnt FROM c ORDER BY cnt DESC, key_val LIMIT 10)
      |SELECT key_val, cnt, n_keys, n_rows,
      |       CAST(CAST(max_cnt AS HUGEINT) * n_keys * 1000000 // n_rows
      |            AS BIGINT) AS skew_e6
      |FROM top, t
      |ORDER BY cnt DESC, key_val""".stripMargin) { (s, dir) =>
    Profile.keySkew(Tables.lineitem(s, dir), col("l_orderkey"), k = 10)
      .orderBy(col("cnt").desc, col("key_val"))
  }

  // x106 — SIX-TABLE ANALYTIC REVENUE ROLLUP (the TPC-H Q5 shape):
  // revenue per nation for one region and one order year, with the
  // local-supplier constraint (c_nationkey = s_nationkey). The only
  // big-big join is lineitem⋈orders; customer/supplier/nation/region
  // broadcast; revenue rides the exact DECIMAL accumulator.
  val x106 = Q(
    "x106_regional_revenue",
    """SELECT n_name,
      |       COUNT(*) AS n_items,
      |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |                     AS DECIMAL(18, 4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |             AND c_nationkey = s_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.DecimalType
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "EUROPE")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast("double").as("revenue"))
      .orderBy("n_name")
  }

  // x107 — CROSS-SOURCE NEAR-DUP MATRIX: for every source pair, how
  // many distinct winnowing fingerprints (x79's density, same df cap)
  // their documents share — the provenance signal (mirrors,
  // scrapes-of-scrapes) that per-corpus dedup rates hide. Distinct
  // (fp, source) rows first, so a passage spammed within one source
  // counts once; bucket fan-out is bounded by the SOURCE count.
  val x107 = Q(
    "x107_cross_source_dups",
    """WITH t AS (
      |  SELECT doc_id, source, trim(text) AS tt,
      |         string_split_regex(trim(text), '\s+') AS wd
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source,
      |         CASE WHEN len(wd) >= 3
      |              THEN list_transform(range(1, len(wd) - 1),
      |                     i -> wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2])
      |              ELSE [tt] END AS sh
      |  FROM t),
      |h AS (SELECT doc_id, source,
      |             list_transform(sh, x -> ('0x' || substring(md5(x), 1, 15))::BIGINT) AS hs
      |      FROM s),
      |f AS (
      |  SELECT doc_id, source,
      |         list_distinct(CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
      |           ELSE list_transform(range(1, len(hs) - 2),
      |                  i -> list_min(hs[i : i + 3])) END) AS fps
      |  FROM h),
      |u AS (SELECT doc_id, source, unnest(fps) AS fp FROM f),
      |keep AS (SELECT fp FROM u GROUP BY fp HAVING count(*) <= 64),
      |us AS (SELECT DISTINCT u.fp, u.source FROM u JOIN keep USING (fp)),
      |p AS (
      |  SELECT a.source AS source_a, b.source AS source_b
      |  FROM us a JOIN us b ON a.fp = b.fp AND a.source < b.source)
      |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared
      |FROM p GROUP BY 1, 2
      |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val fp = Dedup.winnowFingerprints(docs, col("doc_id"), col("text"),
      n = 3, w = 4).pin()
    val kept = fp.groupBy("fp").agg(count(lit(1)).as("dfp"))
      .where(col("dfp") <= 64).select("fp")
    val us = fp.join(kept, Seq("fp"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select("fp", "source").distinct()
      // pinned (round 18): both self-join sides embed the df-cap join +
      // distinct — without the pin that subtree ran twice per query
      // (the sf1 wall doubled under it on a starved window). (fp,
      // source)-cardinality rows.
      .pin()
    us.select(col("fp"), col("source").as("source_a"))
      .join(us.select(col("fp"), col("source").as("source_b")), Seq("fp"))
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  // x108 — INTER-ARRIVAL QUANTILES per user: exact p25/p50/p75/p99 of
  // the microsecond gaps between a user's consecutive events — the
  // bot-vs-human cadence signal. Lag window per user (partitioned, no
  // global window) feeding the x103 order-statistic machinery; all
  // integers.
  val x108 = Q(
    "x108_interarrival_quantiles",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |d AS (SELECT user_id, us - prev_us AS gap
      |      FROM e WHERE prev_us IS NOT NULL),
      |r AS (
      |  SELECT user_id AS stratum, gap AS v,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY gap)
      |              AS BIGINT) AS rn
      |  FROM d),
      |c AS (SELECT user_id AS stratum, CAST(count(*) AS BIGINT) AS cs
      |      FROM d GROUP BY 1)
      |SELECT r.stratum, CAST(count(*) AS BIGINT) AS n,
      |       max(CASE WHEN rn = (25 * cs + 99) // 100 THEN v END) AS p25,
      |       max(CASE WHEN rn = (50 * cs + 99) // 100 THEN v END) AS p50,
      |       max(CASE WHEN rn = (75 * cs + 99) // 100 THEN v END) AS p75,
      |       max(CASE WHEN rn = (99 * cs + 99) // 100 THEN v END) AS p99
      |FROM r JOIN c ON r.stratum = c.stratum
      |GROUP BY r.stratum
      |ORDER BY r.stratum""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .where(col("prev_us").isNotNull)
      .select(col("user_id"), (col("us") - col("prev_us")).as("gap"))
    Profile.groupQuantiles(gaps, col("user_id"), col("gap"), Seq(25, 50, 75, 99))
      .orderBy("stratum")
  }

  // x109 — DUPLICATE N-GRAM OCCURRENCE RATE per source: the fraction
  // of each source's word-5-gram occurrences whose content appears
  // >= 2 times corpus-wide (Lee et al. 2022's corpus-health number,
  // per-source). Two combinable (hash[, source]) counting aggs + one
  // slim hash-keyed join; per-million floors.
  val x109 = Q(
    "x109_dup_occurrence_rate",
    """WITH t AS (
      |  SELECT doc_id, source, trim(text) AS tt,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source,
      |         CASE WHEN len(w) >= 5
      |              THEN list_transform(range(1, len(w) - 3),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
      |              ELSE [tt] END AS sh
      |  FROM t),
      |occ AS (
      |  SELECT source, ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h
      |  FROM s),
      |ps AS (SELECT source, h, CAST(count(*) AS BIGINT) AS c_sh
      |       FROM occ GROUP BY 1, 2),
      |ch AS (SELECT h, CAST(sum(c_sh) AS BIGINT) AS c_h FROM ps GROUP BY 1)
      |SELECT source,
      |       CAST(sum(c_sh) AS BIGINT) AS n_occ,
      |       CAST(sum(CASE WHEN c_h >= 2 THEN c_sh ELSE 0 END) AS BIGINT)
      |         AS n_dup_occ,
      |       CAST(sum(CASE WHEN c_h >= 2 THEN c_sh ELSE 0 END)
      |            * CAST(1000000 AS BIGINT) // sum(c_sh) AS BIGINT) AS dup_e6
      |FROM ps JOIN ch ON ps.h = ch.h
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val occ = graft.ext.Spread.toClusterWidth(Tables.documents(s, dir))
      .select(col("source"),
        explode(graft.functions.WordShingles.word_shingles(col("text"), 5))
          .as("g"))
      .select(col("source"), Dedup.md5Hash60(col("g")).as("h"))
    val ps = occ.groupBy("source", "h").agg(count(lit(1)).as("c_sh"))
    val ch = ps.groupBy("h").agg(sum(col("c_sh")).as("c_h"))
    ps.join(ch, Seq("h"))
      .groupBy("source")
      .agg(sum(col("c_sh")).as("n_occ"),
        sum(when(col("c_h") >= 2, col("c_sh")).otherwise(0L)).as("n_dup_occ"))
      .select(col("source"), col("n_occ"), col("n_dup_occ"),
        expr("n_dup_occ * 1000000L DIV n_occ").as("dup_e6"))
      .orderBy("source")
  }

  // x110 — SHARD BALANCE REPORT: x82's HRW placement at 8 shards,
  // rolled up to per-shard doc/token loads plus the table-wide skew
  // factor (max/mean per-million, the x105 shape) — the check that a
  // consistent-hash layout actually balanced. Scan-side placement,
  // one combinable groupBy, broadcast 1-row totals.
  val x110 = Q(
    "x110_shard_balance",
    """WITH c0 AS (
      |  SELECT doc_id, s,
      |         ('0x' || substring(md5(doc_id::VARCHAR || ':' || s::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM documents, generate_series(0, 7) t(s)),
      |c AS (
      |  SELECT c0.doc_id,
      |         CAST((max(struct_pack(h := h, shard := s))).shard AS BIGINT) AS shard,
      |         CAST(len(string_split_regex(trim(any_value(d.text)), '\s+'))
      |              AS BIGINT) AS n_tok
      |  FROM c0 JOIN documents d ON c0.doc_id = d.doc_id
      |  GROUP BY c0.doc_id),
      |per AS (
      |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_tok) AS BIGINT) AS n_tokens
      |  FROM c GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_shards,
      |             CAST(sum(n_tokens) AS BIGINT) AS total_tok,
      |             CAST(max(n_tokens) AS BIGINT) AS max_tok FROM per)
      |SELECT shard, n_docs, n_tokens,
      |       CAST(CAST(max_tok AS HUGEINT) * n_shards * 1000000 // total_tok
      |            AS BIGINT) AS skew_e6
      |FROM per, t
      |ORDER BY shard""".stripMargin) { (s, dir) =>
    val c = Tables.documents(s, dir)
      .select(Sampling.rendezvousShard(col("doc_id"), 8).as("shard"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val per = c.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val totals = per.agg(count(lit(1)).as("n_shards"),
      sum(col("n_tokens")).as("total_tok"), max(col("n_tokens")).as("max_tok"))
    per.crossJoin(broadcast(totals))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr("CAST(CAST(max_tok AS DECIMAL(38,0)) * n_shards * 1000000 DIV total_tok AS BIGINT)")
          .as("skew_e6"))
      .orderBy("shard")
  }

  // x111 — BLOCKED EDIT-DISTANCE FUZZY-DUP PAIRS: exact Levenshtein over
  // length-band-blocked candidates (each doc probes its band AND the
  // next — boundary-straddling near-dups still meet), 200-char prefix
  // bound on the O(p²) DP, hot bands (>128 candidates) dropped loudly on
  // both sides. The edit-metric complement to the set-overlap dedup
  // family (x6/x7/x92): banding restores an equi-join, never all-pairs.
  val x111 = Q(
    "x111_edit_distance_pairs",
    """WITH base AS (
      |  SELECT doc_id, substring(text, 1, 200) AS p,
      |         CAST(length(text) // 32 AS BIGINT) AS band
      |  FROM documents),
      |cand AS (
      |  SELECT doc_id, p, band FROM base
      |  UNION ALL
      |  SELECT doc_id, p, band + 1 AS band FROM base),
      |g AS (
      |  SELECT doc_id, p, band FROM (
      |    SELECT *, count(*) OVER (PARTITION BY band) AS n_band FROM cand)
      |  WHERE n_band <= 128),
      |pr AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, b.p AS pb
      |  FROM g a JOIN g b ON a.band = b.band AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(levenshtein(pa, pb) AS INT) AS dist
      |FROM pr WHERE levenshtein(pa, pb) <= 48
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    Dedup.editDistancePairs(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy("id_a", "id_b")
  }

  // x112 — HOURLY-GRID GAP FILL (LOCF): each user's irregular event
  // values resampled onto a dense hourly grid, gaps carrying the last
  // observation forward — the fixed-step feature matrix a sequence model
  // trains on. Per-user grid explode + per-user running window; nothing
  // global, no as-of self-join.
  val x112 = Q(
    "x112_locf_grid",
    """WITH e AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h, epoch_us(ts) AS us,
      |         event_id AS eid, value AS v
      |  FROM events),
      |o AS (
      |  SELECT user_id, h, us, v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, h
      |                ORDER BY us DESC, eid DESC) AS rn FROM e)
      |  WHERE rn = 1),
      |b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM o GROUP BY 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM b),
      |j AS (
      |  SELECT g.user_id, g.h, o.v
      |  FROM grid g LEFT JOIN o ON g.user_id = o.user_id AND g.h = o.h)
      |SELECT user_id, h,
      |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf,
      |       CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INT) AS observed
      |FROM j
      |ORDER BY user_id, h""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.locfGrid(Tables.events(s, dir), col("user_id"),
      col("ts"), col("event_id"), col("value"))
      .orderBy("user_id", "h")
  }

  // x113 — LINEAR INTERPOLATION AT GRID POINTS: x112's grid, but gap
  // hours take the lerp between their neighboring observations at exact
  // microsecond anchors. The lerp's operand order is part of the
  // contract (mirrored verbatim here), so the doubles are bit-identical.
  val x113 = Q(
    "x113_lerp_grid",
    """WITH e AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h, epoch_us(ts) AS us,
      |         event_id AS eid, value AS v
      |  FROM events),
      |o AS (
      |  SELECT user_id, h, us, v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, h
      |                ORDER BY us DESC, eid DESC) AS rn FROM e)
      |  WHERE rn = 1),
      |b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM o GROUP BY 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM b),
      |j AS (
      |  SELECT g.user_id, g.h, o.us, o.v
      |  FROM grid g LEFT JOIN o ON g.user_id = o.user_id AND g.h = o.h),
      |f AS (
      |  SELECT user_id, h, v,
      |         last_value(us IGNORE NULLS) OVER wb AS t_prev,
      |         last_value(v IGNORE NULLS) OVER wb AS v_prev,
      |         first_value(us IGNORE NULLS) OVER wf AS t_next,
      |         first_value(v IGNORE NULLS) OVER wf AS v_next
      |  FROM j
      |  WINDOW wb AS (PARTITION BY user_id ORDER BY h
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY user_id ORDER BY h
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT * FROM (
      |  SELECT user_id, h,
      |         CASE WHEN v IS NOT NULL THEN v
      |              ELSE v_prev + (v_next - v_prev) *
      |                   (CAST(epoch_us(h) - t_prev AS DOUBLE) /
      |                    CAST(t_next - t_prev AS DOUBLE)) END AS v_lerp,
      |         CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INT) AS observed
      |  FROM f)
      |WHERE v_lerp IS NOT NULL
      |ORDER BY user_id, h""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.lerpGrid(Tables.events(s, dir), col("user_id"),
      col("ts"), col("event_id"), col("value"))
      .orderBy("user_id", "h")
  }

  // x114 — SLIDING-WINDOW CO-OCCURRENCE TOP-50 (the word2vec/GloVe
  // context statistic): unordered word pairs within 3 positions, counted
  // corpus-wide. The engine generates pairs SCAN-SIDE from the token
  // array (N·window emissions); the oracle pays the position self-join
  // the engine sidesteps.
  val x114 = Q(
    "x114_cooccur_topk",
    """WITH t AS (
      |  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(trim(text), '\s+') END AS w
      |  FROM documents),
      |p AS (
      |  SELECT unnest(CASE WHEN len(w) >= 2 THEN
      |    flatten(list_transform(range(1, len(w)), i ->
      |      list_transform(range(i + 1, least(i + 3, len(w)) + 1), j ->
      |        concat(least(w[i], w[j]), ' ', greatest(w[i], w[j])))))
      |    ELSE CAST([] AS VARCHAR[]) END) AS pair
      |  FROM t)
      |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
      |FROM p GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin) { (s, dir) =>
    Vocab.cooccurTopK(Tables.documents(s, dir), col("text"), window = 3, k = 50)
  }

  // x115 — ROBUST OUTLIER PROFILE (median/MAD) per user on the event
  // value: exact lower median, median absolute deviation, and the count
  // beyond 4·MAD — order statistics and comparisons only, no double is
  // ever summed, so raw doubles hash-match.
  val x115 = Q(
    "x115_robust_outliers",
    """WITH d AS (SELECT user_id AS stratum, value AS v FROM events),
      |c AS (SELECT stratum, CAST(count(*) AS BIGINT) AS cs FROM d GROUP BY 1),
      |r AS (SELECT stratum, v,
      |             CAST(row_number() OVER (PARTITION BY stratum ORDER BY v) AS BIGINT) AS rn
      |      FROM d),
      |med AS (SELECT r.stratum, v AS med FROM r JOIN c USING (stratum)
      |        WHERE rn = (cs + 1) // 2),
      |dev AS (SELECT d.stratum, abs(d.v - med.med) AS adev, med.med
      |        FROM d JOIN med USING (stratum)),
      |rd AS (SELECT stratum, adev,
      |              CAST(row_number() OVER (PARTITION BY stratum ORDER BY adev) AS BIGINT) AS rn
      |       FROM dev),
      |mad AS (SELECT rd.stratum, adev AS mad FROM rd JOIN c USING (stratum)
      |        WHERE rn = (cs + 1) // 2)
      |SELECT dev.stratum, CAST(count(*) AS BIGINT) AS n,
      |       max(dev.med) AS med, max(mad.mad) AS mad,
      |       CAST(sum(CASE WHEN dev.adev > mad.mad * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_out
      |FROM dev JOIN mad USING (stratum)
      |GROUP BY dev.stratum
      |ORDER BY stratum""".stripMargin) { (s, dir) =>
    Profile.medianMadOutliers(Tables.events(s, dir), col("user_id"), col("value"))
      .orderBy("stratum")
  }

  // x116 — JOURNEY TRIGRAM MINING: every consecutive 3-step event-type
  // path per user, counted corpus-wide — the behavioral n-gram table.
  // Two lags over one per-user window + one combinable groupBy whose key
  // space is |event types|³.
  val x116 = Q(
    "x116_journey_trigrams",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id AS eid, event_type AS et
      |  FROM events),
      |l AS (
      |  SELECT user_id,
      |         lag(et, 2) OVER (PARTITION BY user_id ORDER BY tus, eid) AS e1,
      |         lag(et, 1) OVER (PARTITION BY user_id ORDER BY tus, eid) AS e2,
      |         et
      |  FROM e)
      |SELECT e1 || '>' || e2 || '>' || et AS pattern, CAST(count(*) AS BIGINT) AS cnt
      |FROM l WHERE e1 IS NOT NULL
      |GROUP BY 1 ORDER BY cnt DESC, pattern""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.journeyTrigrams(Tables.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .orderBy(col("cnt").desc, col("pattern"))
  }

  // x117 — RECIPROCAL-RANK FUSION of the exact cosine and exact L2
  // rankings (Cormack et al. 2009): floor-division contributions keep
  // the fused score integer-exact. Both inputs are already top-20 per
  // query, so the fusion join touches k·|queries| rows, never the corpus.
  val x117 = Q(
    "x117_rrf_fusion",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS qid, e.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(q.emb, e.emb), 6) AS sim,
      |         round(list_distance(q.emb, e.emb), 6) AS dist
      |  FROM e q, e
      |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
      |ra AS (SELECT qid, neighbor_id,
      |              CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS INT) AS rank_a
      |       FROM p QUALIFY rank_a <= 20),
      |rb AS (SELECT qid, neighbor_id,
      |              CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS INT) AS rank_b
      |       FROM p QUALIFY rank_b <= 20),
      |f AS (
      |  SELECT coalesce(ra.qid, rb.qid) AS qid,
      |         coalesce(ra.neighbor_id, rb.neighbor_id) AS neighbor_id,
      |         ra.rank_a, rb.rank_b,
      |         coalesce(1000000 // (60 + ra.rank_a), 0)
      |           + coalesce(1000000 // (60 + rb.rank_b), 0) AS rrf_e6
      |  FROM ra FULL OUTER JOIN rb
      |    ON ra.qid = rb.qid AND ra.neighbor_id = rb.neighbor_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
      |             ORDER BY rrf_e6 DESC, neighbor_id) AS INT) AS rank FROM f)
      |SELECT qid, neighbor_id, rank_a, rank_b, CAST(rrf_e6 AS BIGINT) AS rrf_e6, rank
      |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    val queries = embs.where(col("vec_id") < 5)
    val a = Similarity.knnBrute(embs, queries, k = 20)
      .select(col("qid"), col("neighbor_id"), col("rank"))
    val b = Similarity.knnBruteL2(embs, queries, k = 20)
      .select(col("qid"), col("neighbor_id"), col("rank"))
    Relevance.rrfFuse(a, b, kRrf = 60)
      .where(col("rank") <= 10)
      .orderBy("qid", "rank")
  }

  // x118 — NORMALIZATION-AWARE EXACT DEDUP: canonicalize (lowercase,
  // strip sentence punctuation, collapse whitespace) before hashing, so
  // reformatted copies x1's byte hash misses land in one group;
  // n_raw_variants measures what canonicalization bought. Scan-side
  // normalize + ONE digest groupBy — x1's scale shape exactly.
  val x118 = Q(
    "x118_normalized_dedup",
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
      |                               '\s+', ' ', 'g'))) AS norm_hash,
      |       MIN(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies,
      |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
      |FROM documents GROUP BY 1 ORDER BY norm_hash""".stripMargin) { (s, dir) =>
    Dedup.normalizedGroups(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy("norm_hash")
  }

  // x119 — EVENT-TYPE TRANSITION MATRIX (empirical Markov chain): counts
  // and integer row-normalized rates for every consecutive (from, to)
  // pair per user. One per-user lag window, |types|²-bounded count
  // groupBy, broadcast row totals.
  val x119 = Q(
    "x119_transition_rates",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id AS eid, event_type AS et
      |           FROM events),
      |l AS (SELECT lag(et, 1) OVER (PARTITION BY user_id ORDER BY tus, eid) AS from_type,
      |             et AS to_type FROM e),
      |p AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
      |      FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tot FROM p GROUP BY 1)
      |SELECT p.from_type, p.to_type, p.cnt,
      |       CAST(cnt * 1000000 // tot AS BIGINT) AS rate_e6
      |FROM p JOIN t USING (from_type) ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.transitionRates(Tables.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .orderBy("from_type", "to_type")
  }

  // x120 — K-ANONYMITY AUDIT over the (lang, source, length-bucket)
  // quasi-identifier tuple: every equivalence class with its size and
  // an at-risk flag for classes under k=5 — the pre-release governance
  // gate. One combinable groupBy on a bounded key space.
  val x120 = Q(
    "x120_k_anonymity",
    """SELECT lang, source, CAST(length(text) // 100 AS BIGINT) AS len_bucket,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS INT) AS at_risk
      |FROM documents GROUP BY 1, 2, 3
      |ORDER BY lang, source, len_bucket""".stripMargin) { (s, dir) =>
    Profile.kAnonymity(Tables.documents(s, dir),
      Seq(col("lang"), col("source"),
        (length(col("text")).cast("long") / 100).cast("long").as("len_bucket")),
      k = 5)
      .orderBy("lang", "source", "len_bucket")
  }

  // x121 — TOKEN-SHARE GINI across sources: how unevenly the corpus's
  // tokens concentrate (0 = even, →1e6 = one source owns everything) —
  // the data-mixture governance number. Rank via a broadcast self-join
  // on the 20-row per-source aggregate, never a global window; exact
  // integers end to end.
  val x121 = Q(
    "x121_token_gini",
    """WITH per AS (
      |  SELECT source AS s,
      |         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
      |                  ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS x
      |  FROM documents GROUP BY 1),
      |r AS (SELECT s, x, CAST(row_number() OVER (ORDER BY x, s) AS BIGINT) AS rank FROM per)
      |SELECT CAST(count(*) AS BIGINT) AS n_strata, CAST(sum(x) AS BIGINT) AS total,
      |       CAST((sum((2 * rank - 1) * x) - count(*) * sum(x)) * 1000000
      |            // (count(*) * sum(x)) AS BIGINT) AS gini_e6
      |FROM r""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Profile.giniConcentration(docs, col("source"),
      TextAnalysis.wsTokenCount(col("text")))
  }

  // x122 — PER-GROUP TOP-K WITHOUT A WINDOW: each source's 3 longest
  // docs via the typed combinable TopKByMeasureAgg — groups collapse to
  // ≤k-row states map-side, so no task ever holds a whole group (the
  // rank-window plan the oracle runs cannot say that).
  val x122 = Q(
    "x122_group_topk",
    """WITH r AS (
      |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |         CAST(row_number() OVER (PARTITION BY source
      |              ORDER BY length(text) DESC, doc_id) AS INT) AS rank
      |  FROM documents)
      |SELECT source, rank, doc_id, n_chars FROM r WHERE rank <= 3
      |ORDER BY source, rank""".stripMargin) { (s, dir) =>
    Profile.groupTopK(Tables.documents(s, dir), col("source"), col("doc_id"),
      length(col("text")), k = 3)
      .select(col("grp").as("source"), col("rank"), col("id").as("doc_id"),
        col("m").as("n_chars"))
      .orderBy("source", "rank")
  }

  // x123 — FUNNEL TIMING BY COHORT: x52's ordered funnel plus the
  // EXACT median time-to-convert between stages, stratified by
  // first-event-day cohort — stratification is also what keeps the
  // median scale-safe (cohort-partitioned rank windows, no global
  // median/sort). Microsecond integers end to end.
  val x123 = Q(
    "x123_funnel_timing",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_type AS et, ts FROM events),
      |t1 AS (
      |  SELECT user_id, min(CASE WHEN et = 'signup' THEN tus END) AS t1
      |  FROM e GROUP BY user_id
      |  HAVING min(CASE WHEN et = 'signup' THEN tus END) IS NOT NULL),
      |t2 AS (
      |  SELECT e.user_id, t1.t1,
      |         min(CASE WHEN et = 'click' AND tus > t1.t1 THEN tus END) AS t2
      |  FROM e JOIN t1 USING (user_id) GROUP BY e.user_id, t1.t1),
      |t3 AS (
      |  SELECT e.user_id, t2.t1, t2.t2,
      |         min(CASE WHEN et = 'purchase' AND tus > t2.t2 THEN tus END) AS t3
      |  FROM e JOIN t2 USING (user_id) GROUP BY e.user_id, t2.t1, t2.t2),
      |coh AS (
      |  SELECT user_id, date_trunc('day', min(ts)) AS cohort FROM events GROUP BY 1),
      |fc AS (SELECT t3.*, coh.cohort FROM t3 JOIN coh USING (user_id)),
      |counts AS (
      |  SELECT cohort, CAST(count(*) AS BIGINT) AS n_s1,
      |         CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_s2,
      |         CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_s3
      |  FROM fc GROUP BY 1),
      |r12 AS (
      |  SELECT cohort, t2 - t1 AS d,
      |         CAST(row_number() OVER (PARTITION BY cohort ORDER BY t2 - t1) AS BIGINT) AS rn
      |  FROM fc WHERE t2 IS NOT NULL),
      |c12 AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cs FROM r12 GROUP BY 1),
      |m12 AS (SELECT r12.cohort, d AS p50_t12_us FROM r12 JOIN c12 USING (cohort)
      |        WHERE rn = (50 * cs + 99) // 100),
      |r23 AS (
      |  SELECT cohort, t3 - t2 AS d,
      |         CAST(row_number() OVER (PARTITION BY cohort ORDER BY t3 - t2) AS BIGINT) AS rn
      |  FROM fc WHERE t3 IS NOT NULL),
      |c23 AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cs FROM r23 GROUP BY 1),
      |m23 AS (SELECT r23.cohort, d AS p50_t23_us FROM r23 JOIN c23 USING (cohort)
      |        WHERE rn = (50 * cs + 99) // 100)
      |SELECT counts.cohort, n_s1, n_s2, n_s3, m12.p50_t12_us, m23.p50_t23_us
      |FROM counts LEFT JOIN m12 USING (cohort) LEFT JOIN m23 USING (cohort)
      |ORDER BY cohort""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.funnelTiming(Tables.events(s, dir),
      col("user_id"), col("ts"), col("event_type"),
      "signup", "click", "purchase")
      .orderBy("cohort")
  }

  // x124 — CORPUS SATURATION CURVE: per doc-id decile, total word-5-gram
  // occurrences vs n-grams FIRST SEEN in that decile — the
  // diminishing-returns readout for "does the next crawl slice still
  // add content". Decile width derives from a plan-build count (the
  // x63 scale-invariance doctrine; the oracle mirrors it as a scalar
  // subquery); cumulative rides a 10-row broadcast self-join, no window.
  val x124 = Q(
    "x124_novelty_curve",
    """WITH t AS (
      |  SELECT doc_id, trim(text) AS tt, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 5
      |              THEN list_transform(range(1, len(w) - 3),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
      |              ELSE [tt] END AS sh
      |  FROM t),
      |occ AS (SELECT doc_id, ('0x' || substring(md5(unnest(sh)), 1, 15))::BIGINT AS h FROM s),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |ob AS (SELECT CAST(least(doc_id * 10 // n_docs, 9) AS BIGINT) AS bucket, h FROM occ, n),
      |per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_occ FROM ob GROUP BY 1),
      |fs AS (SELECT h, min(doc_id) AS first_doc FROM occ GROUP BY 1),
      |nw AS (SELECT CAST(least(first_doc * 10 // n_docs, 9) AS BIGINT) AS bucket,
      |              CAST(count(*) AS BIGINT) AS n_new
      |       FROM fs, n GROUP BY 1),
      |base AS (SELECT per.bucket, n_occ, CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
      |         FROM per LEFT JOIN nw USING (bucket)),
      |c AS (SELECT a.bucket, a.n_occ, a.n_new, CAST(sum(b.n_new) AS BIGINT) AS cum_new
      |      FROM base a JOIN base b ON b.bucket <= a.bucket
      |      GROUP BY 1, 2, 3)
      |SELECT bucket, n_occ, n_new, CAST(n_new * 1000000 // n_occ AS BIGINT) AS new_e6, cum_new
      |FROM c ORDER BY bucket""".stripMargin) { (s, dir) =>
    Dedup.noveltyCurve(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy("bucket")
  }

  // x125 — ROLLING ACTIVE USERS (DAU/WAU/stickiness): exact trailing
  // 7-day distinct actives per day via the bounded cover-day explode —
  // never a rolling-distinct state, never a sketch; stickiness as an
  // integer ratio.
  val x125 = Q(
    "x125_rolling_actives",
    """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |cover AS (SELECT DISTINCT user_id, day FROM (
      |  SELECT user_id,
      |         unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS day
      |  FROM ud)),
      |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM cover GROUP BY 1),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1)
      |SELECT dau.day, dau.dau, wau.wau,
      |       CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stickiness_e6
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.rollingActives(Tables.events(s, dir),
      col("user_id"), col("ts"), windowDays = 7)
      .orderBy("day")
  }

  // x126 — SESSION QUALITY BY DAY: x40's sessions rolled up to per-day
  // exact duration/size quantiles (p50/p95 duration, p50 events) — the
  // engagement-health daily readout. Sessionize window + the x108
  // order-statistic machinery, all partitioned.
  val x126 = Q(
    "x126_session_stats",
    """WITH e AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) AS tus FROM events),
      |m AS (
      |  SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |  FROM e),
      |s AS (
      |  SELECT *, SUM(CASE WHEN prev IS NULL OR tus - prev > 1800000000
      |                     THEN 1 ELSE 0 END)
      |         OVER (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM m),
      |sess AS (
      |  SELECT user_id, session_seq, min(ts) AS session_start,
      |         CAST(count(*) AS BIGINT) AS n_events,
      |         (max(tus) - min(tus)) // 1000000 AS duration_secs
      |  FROM s GROUP BY user_id, session_seq),
      |d AS (SELECT date_trunc('day', session_start) AS stratum, duration_secs, n_events
      |      FROM sess),
      |rd AS (SELECT stratum, duration_secs AS v,
      |              CAST(row_number() OVER (PARTITION BY stratum ORDER BY duration_secs) AS BIGINT) AS rn
      |       FROM d),
      |cd AS (SELECT stratum, CAST(count(*) AS BIGINT) AS cs FROM d GROUP BY 1),
      |qd AS (SELECT rd.stratum, CAST(count(*) AS BIGINT) AS n,
      |              max(CASE WHEN rn = (50 * cs + 99) // 100 THEN v END) AS p50_dur,
      |              max(CASE WHEN rn = (95 * cs + 99) // 100 THEN v END) AS p95_dur
      |       FROM rd JOIN cd USING (stratum) GROUP BY rd.stratum),
      |re AS (SELECT stratum, n_events AS v,
      |              CAST(row_number() OVER (PARTITION BY stratum ORDER BY n_events) AS BIGINT) AS rn
      |       FROM d),
      |qe AS (SELECT re.stratum, max(CASE WHEN rn = (50 * cs + 99) // 100 THEN v END) AS p50_events
      |       FROM re JOIN cd USING (stratum) GROUP BY re.stratum)
      |SELECT qd.stratum, n, p50_dur, p95_dur, p50_events
      |FROM qd JOIN qe USING (stratum) ORDER BY stratum""".stripMargin) { (s, dir) =>
    val sess = graft.ops.Sessionize.sessionize(Tables.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), gapMicros = 1800000000L)
    // ONE materialization (round 18): the sessionize windows feed BOTH
    // quantile profiles — without the checkpoint the whole
    // events-scan + lag/cumsum window chain recomputes per profile
    val d = sess.select(date_trunc("day", col("session_start")).as("stratum"),
      col("duration_secs"), col("n_events"))
      .pin()
    // ...and both profiles share ONE rank chain (round 18): the two
    // measures stack as (day, measure-tag) strata in a single
    // measure-tagged union, so the histogram groupBy + two-phase
    // cumsum machinery — the query's per-call constant — runs once,
    // not twice; a tiny pivot agg unpacks the stacked rows. The
    // stray p95 computed for the n_events arm is discarded.
    val stacked = d.select(col("stratum"), lit("dur").as("m"),
        col("duration_secs").as("v"))
      .unionAll(d.select(col("stratum"), lit("ev").as("m"),
        col("n_events").as("v")))
    val q = Profile.groupQuantiles(stacked, struct(col("stratum"), col("m")),
        col("v"), Seq(50, 95), lowCardStrata = true)
      .select(col("stratum.stratum").as("stratum"), col("stratum.m").as("m"),
        col("n"), col("p50"), col("p95"))
    q.groupBy("stratum")
      .agg(max(when(col("m") === "dur", col("n"))).as("n"),
        max(when(col("m") === "dur", col("p50"))).as("p50_dur"),
        max(when(col("m") === "dur", col("p95"))).as("p95_dur"),
        max(when(col("m") === "ev", col("p50"))).as("p50_events"))
      .orderBy("stratum")
  }

  // x127 — CUSTOMER SPEND DECILE LIFT TABLE: customers ranked by total
  // order value (exact cents), split into ten equal-population slices
  // with revenue shares and cumulative shares — "the top 10% carry
  // 17%". The global rank is Batching's TWO-PHASE kind (range sort +
  // per-partition ranks + broadcast prefix offsets); the oracle's
  // single row_number window is exactly the plan this avoids.
  val x127 = Q(
    "x127_spend_deciles",
    """WITH sp AS (SELECT o_custkey AS id,
      |                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
      |            FROM orders GROUP BY 1),
      |r AS (SELECT id, m, CAST(row_number() OVER (ORDER BY m DESC, id) AS BIGINT) AS rn FROM sp),
      |n AS (SELECT count(*) AS cnt FROM sp),
      |b AS (SELECT CAST(least((rn - 1) * 10 // cnt, 9) AS BIGINT) AS bucket, m FROM r, n),
      |per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_entities,
      |               CAST(sum(m) AS BIGINT) AS total_m FROM b GROUP BY 1),
      |g AS (SELECT CAST(sum(total_m) AS BIGINT) AS grand FROM per),
      |c AS (SELECT a.bucket, a.n_entities, a.total_m, CAST(sum(x.total_m) AS BIGINT) AS cum_m
      |      FROM per a JOIN per x ON x.bucket <= a.bucket GROUP BY 1, 2, 3)
      |SELECT bucket, n_entities, total_m,
      |       CAST(CAST(total_m AS HUGEINT) * 1000000 // grand AS BIGINT) AS share_e6,
      |       CAST(CAST(cum_m AS HUGEINT) * 1000000 // grand AS BIGINT) AS cum_share_e6
      |FROM c, g ORDER BY bucket""".stripMargin) { (s, dir) =>
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    Profile.decileLift(spend, col("o_custkey"), col("cents"), buckets = 10)
      .orderBy("bucket")
  }

  // x128 — PRICE-PER-UNIT ROBUST OUTLIERS per brand: the x115
  // median/MAD machinery on lineitem's unit price joined to the part
  // dim (broadcast). Per-row division is deterministic; no double sums.
  val x128 = Q(
    "x128_price_outliers",
    """WITH d AS (SELECT p_brand AS stratum, l_extendedprice / l_quantity AS v
      |           FROM lineitem JOIN part ON l_partkey = p_partkey),
      |c AS (SELECT stratum, CAST(count(*) AS BIGINT) AS cs FROM d GROUP BY 1),
      |r AS (SELECT stratum, v,
      |             CAST(row_number() OVER (PARTITION BY stratum ORDER BY v) AS BIGINT) AS rn
      |      FROM d),
      |med AS (SELECT r.stratum, v AS med FROM r JOIN c USING (stratum)
      |        WHERE rn = (cs + 1) // 2),
      |dev AS (SELECT d.stratum, abs(d.v - med.med) AS adev, med.med
      |        FROM d JOIN med USING (stratum)),
      |rd AS (SELECT stratum, adev,
      |              CAST(row_number() OVER (PARTITION BY stratum ORDER BY adev) AS BIGINT) AS rn
      |       FROM dev),
      |mad AS (SELECT rd.stratum, adev AS mad FROM rd JOIN c USING (stratum)
      |        WHERE rn = (cs + 1) // 2)
      |SELECT dev.stratum, CAST(count(*) AS BIGINT) AS n,
      |       max(dev.med) AS med, max(mad.mad) AS mad,
      |       CAST(sum(CASE WHEN dev.adev > mad.mad * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_out
      |FROM dev JOIN mad USING (stratum)
      |GROUP BY dev.stratum
      |ORDER BY stratum""".stripMargin) { (s, dir) =>
    val d = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), (col("l_extendedprice") / col("l_quantity")).as("v"))
    Profile.medianMadOutliers(d, col("p_brand"), col("v"), lowCardStrata = true)
      .orderBy("stratum")
  }

  // x129 — MARKET-BASKET PAIRS over sessions (association mining's
  // frequent-2-itemset stage): per-session distinct items, pair
  // supports, and integer lift vs independence. Pairs expand scan-side
  // from the sorted set; supports broadcast back; DECIMAL(38) lift.
  val x129 = Q(
    "x129_basket_pairs",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |m AS (
      |  SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |  FROM e),
      |s AS (
      |  SELECT *, SUM(CASE WHEN prev IS NULL OR tus - prev > 1800000000
      |                     THEN 1 ELSE 0 END)
      |         OVER (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM m),
      |sess AS (
      |  SELECT user_id, session_seq, list_sort(list_distinct(list(event_type))) AS items
      |  FROM s GROUP BY user_id, session_seq),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sess FROM sess),
      |sing AS (
      |  SELECT item, CAST(count(*) AS BIGINT) AS sup FROM (
      |    SELECT unnest(items) AS item FROM sess) GROUP BY 1),
      |pairs AS (
      |  SELECT unnest(CASE WHEN len(items) >= 2 THEN
      |           flatten(list_transform(range(1, len(items)), i ->
      |             list_transform(range(i + 1, len(items) + 1), j ->
      |               items[i] || '|' || items[j])))
      |         ELSE CAST([] AS VARCHAR[]) END) AS pair
      |  FROM sess),
      |ps AS (SELECT pair, CAST(count(*) AS BIGINT) AS sup_ab FROM pairs GROUP BY 1),
      |f AS (
      |  SELECT string_split(pair, '|')[1] AS item_a, string_split(pair, '|')[2] AS item_b,
      |         sup_ab FROM ps)
      |SELECT item_a, item_b, sup_ab, sa.sup AS sup_a, sb.sup AS sup_b,
      |       CAST(CAST(sup_ab AS HUGEINT) * n_sess * 1000000 // (sa.sup * sb.sup) AS BIGINT) AS lift_e6
      |FROM f JOIN sing sa ON f.item_a = sa.item
      |       JOIN sing sb ON f.item_b = sb.item, n
      |ORDER BY item_a, item_b""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.basketPairs(Tables.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      gapMicros = 1800000000L)
      .orderBy("item_a", "item_b")
  }

  // x130 — ROLLUP REVENUE (region → nation → grand total): multi-level
  // aggregates via Spark's rollup/Expand in ONE pass over the fact —
  // the OLAP subtotal surface (x106 computes one level; this computes
  // all three without rescanning). Exact cents; grouping() bits make
  // the level explicit.
  val x130 = Q(
    "x130_rollup_revenue",
    """WITH f AS (
      |  SELECT r_name, n_name,
      |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey)
      |SELECT coalesce(r_name, '(all)') AS region, coalesce(n_name, '(all)') AS nation,
      |       CAST(grouping(r_name) * 2 + grouping(n_name) AS INT) AS lvl,
      |       CAST(sum(cents) AS BIGINT) AS cents
      |FROM f
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY lvl, region, nation""".stripMargin) { (s, dir) =>
    val f = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long").as("cents"))
    f.rollup(col("r_name"), col("n_name"))
      .agg(sum(col("cents")).as("cents"),
        (grouping(col("r_name")) * 2 + grouping(col("n_name"))).cast("int").as("lvl"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("lvl"), col("cents"))
      .orderBy("lvl", "region", "nation")
  }

  // x131 — LAST-TOUCH ATTRIBUTION: each purchase credited to the most
  // recent prior non-purchase event, with exact median conversion lag
  // per channel. The window frame ends at 1 PRECEDING so a conversion
  // never credits itself.
  val x131 = Q(
    "x131_attribution",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id AS eid, event_type AS et
      |  FROM events),
      |w AS (
      |  SELECT user_id, tus, et,
      |         last_value(CASE WHEN et <> 'purchase' THEN et END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY tus, eid
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel,
      |         last_value(CASE WHEN et <> 'purchase' THEN tus END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY tus, eid
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ctus
      |  FROM e),
      |p AS (SELECT channel, tus - ctus AS gap FROM w
      |      WHERE et = 'purchase' AND channel IS NOT NULL),
      |r AS (SELECT channel, gap,
      |             CAST(row_number() OVER (PARTITION BY channel ORDER BY gap) AS BIGINT) AS rn
      |      FROM p),
      |c AS (SELECT channel, CAST(count(*) AS BIGINT) AS cs FROM p GROUP BY 1)
      |SELECT r.channel, max(cs) AS n,
      |       max(CASE WHEN rn = (50 * cs + 99) // 100 THEN gap END) AS p50_gap_us
      |FROM r JOIN c USING (channel)
      |GROUP BY r.channel
      |ORDER BY channel""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.lastTouchAttribution(Tables.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"), "purchase")
      .orderBy("channel")
  }

  // x132 — POINT-IN-TIME FEATURES: per-event expanding stats over each
  // user's strictly PRIOR rows (frame ends at 1 PRECEDING) — the
  // leakage-free feature-generation contract. One user-key window
  // exchange shared by all three features.
  val x132 = Q(
    "x132_pit_features",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type AS et FROM events)
      |SELECT event_id,
      |       CAST(count(*) OVER w AS BIGINT) AS n_prior,
      |       CAST(coalesce(sum(CASE WHEN et = 'purchase' THEN 1 ELSE 0 END) OVER w, 0) AS BIGINT) AS n_prior_conv,
      |       tus - last_value(tus) OVER w AS us_since_prev
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.pitFeatures(Tables.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"), "purchase")
      .orderBy("event_id")
  }

  // x133 — FUNCTIONAL-DEPENDENCY STRENGTH (source → lang): per source,
  // the mode language and the integer share it explains — the
  // schema-discovery probe (1e6 = the FD holds exactly). Two
  // value-domain-bounded groupBys + one lhs-partitioned mode rank.
  val x133 = Q(
    "x133_fd_strength",
    """WITH g AS (SELECT source AS lhs, lang AS rhs, CAST(count(*) AS BIGINT) AS c
      |           FROM documents GROUP BY 1, 2),
      |t AS (SELECT lhs, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_rhs
      |      FROM g GROUP BY 1),
      |m AS (SELECT lhs, rhs AS mode_rhs, c AS mode_c FROM (
      |        SELECT *, row_number() OVER (PARTITION BY lhs ORDER BY c DESC, rhs) AS rn
      |        FROM g) WHERE rn = 1)
      |SELECT t.lhs, n, n_rhs, mode_rhs, mode_c,
      |       CAST(mode_c * 1000000 // n AS BIGINT) AS strength_e6
      |FROM t JOIN m USING (lhs)
      |ORDER BY lhs""".stripMargin) { (s, dir) =>
    Profile.fdStrength(Tables.documents(s, dir), col("source"), col("lang"))
      .orderBy("lhs")
  }

  // x134 — REFERENTIAL-INTEGRITY AUDIT: orphaned child keys across the
  // star schema's five FK edges. Each edge pre-aggregates the child to
  // (key, row_count) so the anti-join runs at KEY cardinality — the
  // 100 TB posture for fact-side FK checks. NULL keys counted apart
  // (SQL FK semantics), never as orphans.
  private def riEdgeSql(edge: String, child: String, ck: String,
      parent: String, pk: String): String =
    s"""SELECT '$edge' AS edge,
       |       CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
       |       CAST(count(k) AS BIGINT) AS n_keys,
       |       CAST(coalesce(sum(CASE WHEN k IS NULL THEN c END), 0) AS BIGINT) AS n_null_rows,
       |       CAST(coalesce(sum(CASE WHEN orphan THEN 1 END), 0) AS BIGINT) AS n_orphan_keys,
       |       CAST(coalesce(sum(CASE WHEN orphan THEN c END), 0) AS BIGINT) AS n_orphan_rows,
       |       CAST(CASE WHEN coalesce(sum(c), 0) = 0 THEN 0
       |            ELSE coalesce(sum(CASE WHEN orphan THEN c END), 0) * 1000000 // coalesce(sum(c), 0) END AS BIGINT) AS orphan_ppm
       |FROM (
       |  SELECT k, c,
       |         k IS NOT NULL AND k NOT IN (SELECT $pk FROM $parent WHERE $pk IS NOT NULL) AS orphan
       |  FROM (SELECT $ck AS k, CAST(count(*) AS BIGINT) AS c FROM $child GROUP BY 1))""".stripMargin
  val x134 = Q(
    "x134_ri_orphans",
    Seq(
      riEdgeSql("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      riEdgeSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      riEdgeSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      riEdgeSql("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      riEdgeSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")) { (s, dir) =>
    Seq(
      Profile.riEdge(Tables.customer(s, dir), col("c_nationkey"),
        Tables.nation(s, dir), col("n_nationkey"), "customer->nation"),
      Profile.riEdge(Tables.lineitem(s, dir), col("l_orderkey"),
        Tables.orders(s, dir), col("o_orderkey"), "lineitem->orders"),
      Profile.riEdge(Tables.lineitem(s, dir), col("l_partkey"),
        Tables.part(s, dir), col("p_partkey"), "lineitem->part"),
      Profile.riEdge(Tables.lineitem(s, dir), col("l_suppkey"),
        Tables.supplier(s, dir), col("s_suppkey"), "lineitem->supplier"),
      Profile.riEdge(Tables.orders(s, dir), col("o_custkey"),
        Tables.customer(s, dir), col("c_custkey"), "orders->customer"))
      .reduce(_.unionAll(_)).orderBy("edge")
  }

  // x135 — BENFORD FIRST-DIGIT AUDIT on line-item cents: the fraud /
  // synthetic-data screen. Digit from the integer's string head (exact
  // on any engine — no float log10 at bucket edges); expected shares
  // are the canonical rounded ppm constants (sum exactly 1e6), shared
  // verbatim with the oracle. One scan + 9-row groupBy + broadcast
  // total. TPC-H prices are uniform, NOT Benford — the audit's job is
  // to SAY so, and the big dev_ppm values are the verified result.
  val x135 = Q(
    "x135_benford",
    s"""WITH d AS (
      |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem)
      |  WHERE cents > 0),
      |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
      |e AS (SELECT * FROM (VALUES ${Profile.benfordPpm
        .map { case (d, p) => s"($d, ${p})" }.mkString(", ")}) AS t(digit, exp_ppm)),
      |t AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total FROM g)
      |SELECT CAST(e.digit AS INT) AS digit, CAST(coalesce(g.n, 0) AS BIGINT) AS n,
      |       CAST(CASE WHEN total = 0 THEN 0
      |            ELSE coalesce(g.n, 0) * 1000000 // total END AS BIGINT) AS obs_ppm,
      |       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
      |       CAST(abs(CASE WHEN total = 0 THEN 0
      |            ELSE coalesce(g.n, 0) * 1000000 // total END - e.exp_ppm) AS BIGINT) AS dev_ppm
      |FROM e LEFT JOIN g USING (digit), t
      |ORDER BY digit""".stripMargin) { (s, dir) =>
    Profile.benfordAudit(Tables.lineitem(s, dir),
      round(col("l_extendedprice") * 100, 0).cast("long"))
      .orderBy("digit")
  }

  // x136 — HOUR-OF-WEEK SEASONAL BASELINE: per (iso dow, hour) slot,
  // observed-slot mean and the peak instance's ratio-to-mean — the
  // traffic-anomaly baseline. Two combinable groupBys (key space ≤
  // days×24 then ≤168), peak via max(struct) — no window over the fact.
  val x136 = Q(
    "x136_seasonality",
    """WITH s AS (
      |  SELECT CAST(isodow(ts) AS INT) AS dow, CAST(hour(ts) AS INT) AS hr,
      |         strftime(ts, '%Y-%m-%d') AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |b AS (
      |  SELECT dow, hr, CAST(count(*) AS BIGINT) AS n_slots,
      |         CAST(sum(c) AS BIGINT) AS total,
      |         max({'c': c, 'd': d}) AS peak
      |  FROM s GROUP BY 1, 2)
      |SELECT dow, hr, n_slots, total,
      |       CAST(total * 100 // n_slots AS BIGINT) AS mean_e2,
      |       CAST(peak.c AS BIGINT) AS max_c, peak.d AS max_date,
      |       CAST(peak.c * n_slots * 1000000 // total AS BIGINT) AS max_ratio_e6
      |FROM b
      |ORDER BY dow, hr""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.seasonalBaseline(Tables.events(s, dir), col("ts"))
      .orderBy("dow", "hr")
  }

  // x137 — VOCABULARY STATS (hapax share + type-token ratio) per source:
  // the vocabulary-richness / template-spam screen. One (stratum, token)
  // combinable groupBy — key space is the vocabulary, not the corpus.
  val x137 = Q(
    "x137_vocab_stats",
    """WITH w AS (
      |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |g AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1, 2)
      |SELECT source AS stratum,
      |       CAST(sum(c) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_types,
      |       CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT) AS n_hapax,
      |       CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_e6,
      |       CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) * 1000000 // count(*) AS BIGINT) AS hapax_share_e6
      |FROM g GROUP BY source
      |ORDER BY stratum""".stripMargin) { (s, dir) =>
    TextAnalysis.vocabStats(Tables.documents(s, dir), col("source"), col("text"))
      .orderBy("stratum")
  }

  // x138 — TEXTRANK KEYWORDS: weighted PageRank over the word
  // co-occurrence graph (Mihalcea & Tarau 2004) — corpus-level keyword
  // extraction. Pairs expand scan-side (x114's shape), the graph is
  // vocabulary-bounded, each iteration is one equi-join + one
  // DECIMAL-exact combinable groupBy (x64's exactness contract).
  private val trIterSql: String = (1 to 3).map { it =>
    val prev = if (it == 1) "r0" else s"r${it - 1}"
    s"""i$it AS (SELECT e.dst AS node,
       |         CAST(SUM(CAST(floor(r.r / CAST(r.tw AS DOUBLE) * CAST(e.cnt AS DOUBLE) * CAST(1e15 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s15
       |       FROM $prev r JOIN e ON e.src = r.node GROUP BY e.dst),
       |r$it AS (SELECT t.src AS node, t.tw,
       |              (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / CAST(nn.n AS DOUBLE)
       |              + CAST(0.85 AS DOUBLE) * (CAST(i$it.s15 AS DOUBLE) / CAST(1e15 AS DOUBLE)) AS r
       |       FROM i$it JOIN tw t ON t.src = i$it.node CROSS JOIN nn)""".stripMargin
  }.mkString(",\n")
  val x138 = Q(
    "x138_textrank",
    s"""WITH t AS (
      |  SELECT list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |                     x -> length(x) >= 5) AS w
      |  FROM documents),
      |p AS (
      |  SELECT unnest(CASE WHEN len(w) >= 2 THEN
      |    flatten(list_transform(range(1, len(w)), i ->
      |      list_transform(range(i + 1, least(i + 3, len(w)) + 1), j ->
      |        concat(least(w[i], w[j]), ' ', greatest(w[i], w[j])))))
      |    ELSE CAST([] AS VARCHAR[]) END) AS pair
      |  FROM t),
      |u AS (
      |  SELECT string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[2] AS w2,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM p GROUP BY 1, 2 HAVING w1 <> w2),
      |e AS (SELECT w1 AS src, w2 AS dst, cnt FROM u
      |      UNION ALL SELECT w2 AS src, w1 AS dst, cnt FROM u),
      |tw AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS tw FROM e GROUP BY 1),
      |nn AS (SELECT COUNT(*) AS n FROM tw),
      |r0 AS (SELECT src AS node, tw, CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) AS r
      |       FROM tw CROSS JOIN nn),
      |$trIterSql
      |SELECT node AS word, tw, r AS pr
      |FROM r3 ORDER BY pr DESC, word LIMIT 30""".stripMargin) { (s, dir) =>
    Vocab.textRank(Tables.documents(s, dir), col("text"),
      window = 3, iters = 3, k = 30, minLen = 5)
  }

  // x139 — WINDOW FUNNEL: ordered view→click→purchase chains completed
  // within 6 h, chain may start at ANY view (greedy-latest is exact for
  // 3 stages — see EventAnalytics.windowFunnel). One hash(user)
  // exchange for both stacked running windows; per-day medians are
  // entity-partitioned order statistics.
  val x139 = Q(
    "x139_window_funnel",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id AS eid, event_type AS et,
      |         strftime(ts, '%Y-%m-%d') AS day
      |  FROM events),
      |w1 AS (
      |  SELECT *, last_value(CASE WHEN et = 'view' THEN tus END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY tus, eid
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ls
      |  FROM e),
      |w2 AS (
      |  SELECT *, last_value(CASE WHEN et = 'click' THEN {'t': tus, 'ls': ls} END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY tus, eid
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc
      |  FROM w1),
      |c AS (
      |  SELECT day, lc.ls IS NOT NULL AND tus - lc.ls <= 21600000000 AS ok,
      |         tus - lc.ls AS span
      |  FROM w2 WHERE et = 'purchase'),
      |counts AS (SELECT day, CAST(count(*) AS BIGINT) AS n_conv,
      |                  CAST(coalesce(sum(CASE WHEN ok THEN 1 END), 0) AS BIGINT) AS n_completed
      |           FROM c GROUP BY 1),
      |r AS (SELECT day, span, CAST(row_number() OVER (PARTITION BY day ORDER BY span) AS BIGINT) AS rn
      |      FROM c WHERE ok),
      |cs AS (SELECT day, CAST(count(*) AS BIGINT) AS cs FROM c WHERE ok GROUP BY 1),
      |med AS (SELECT r.day, max(CASE WHEN rn = (50 * cs + 99) // 100 THEN span END) AS p50_span_us
      |        FROM r JOIN cs USING (day) GROUP BY r.day)
      |SELECT counts.day, n_conv, n_completed,
      |       CAST(n_completed * 1000000 // n_conv AS BIGINT) AS completion_ppm,
      |       med.p50_span_us
      |FROM counts LEFT JOIN med USING (day)
      |ORDER BY day""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.windowFunnel(Tables.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      "view", "click", "purchase", windowUs = 21600000000L)
      .orderBy("day")
  }

  // x140 — EMBEDDING DRIFT MATRIX: pairwise cosine between per-language
  // slice centroids (documents⋈embeddings on doc_id=vec_id). The corpus
  // collapses to |langs|·dim rows in one DECIMAL groupBy; the matrix is
  // a broadcast self-join over |langs| rows. x50's exactness contract.
  val x140 = Q(
    "x140_centroid_drift",
    """WITH j AS (
      |  SELECT d.lang, e.embedding::DOUBLE[] AS emb
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |u AS (SELECT lang, unnest(emb) AS v, generate_subscripts(emb, 1) AS pos FROM j),
      |avgc AS (
      |  SELECT lang, pos, CAST(SUM(CAST(v AS DECIMAL(28, 16))) AS DOUBLE) / count(*) AS m
      |  FROM u GROUP BY lang, pos),
      |cents AS (SELECT lang, list(m ORDER BY pos) AS cemb FROM avgc GROUP BY lang),
      |cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY lang),
      |c AS (SELECT cents.lang, cemb, n FROM cents JOIN cnt USING (lang))
      |SELECT a.lang AS slice_a, b.lang AS slice_b, a.n AS n_a, b.n AS n_b,
      |       round(list_cosine_similarity(a.cemb, b.cemb), 6) AS csim
      |FROM c a JOIN c b ON a.lang < b.lang
      |ORDER BY slice_a, slice_b""".stripMargin) { (s, dir) =>
    val j = Tables.documents(s, dir)
      .join(Tables.embeddings(s, dir),
        col("doc_id") === col("vec_id"))
    Similarity.sliceCentroidSim(j, col("lang"), col("embedding"))
      .orderBy("slice_a", "slice_b")
  }

  // x141 — BLOCKED RECORD LINKAGE: probable-duplicate customers by
  // (nation, balance-band) blocking + integer field-agreement scores —
  // x111's blocking contract on structured records. Bands are shifted
  // positive so Spark DIV (truncate) and DuckDB // (floor) agree.
  val x141 = Q(
    "x141_record_linkage",
    """WITH c AS (
      |  SELECT c_custkey AS k, c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer),
      |b AS (SELECT *, (cents + 100000) // 10000 AS band FROM c),
      |p AS (SELECT k, nat, seg, cents, band FROM b
      |      UNION ALL SELECT k, nat, seg, cents, band + 1 FROM b),
      |g AS (SELECT *, count(*) OVER (PARTITION BY nat, band) AS bn FROM p),
      |f AS (SELECT * FROM g WHERE bn <= 256),
      |pairs AS (
      |  SELECT DISTINCT a.k AS id_a, b.k AS id_b, a.seg = b.seg AS seg_eq,
      |         abs(a.cents - b.cents) AS d
      |  FROM f a JOIN f b ON a.nat = b.nat AND a.band = b.band AND a.k < b.k)
      |SELECT id_a, id_b,
      |       CAST(CASE WHEN seg_eq THEN 40 ELSE 0 END +
      |            CASE WHEN d <= 2000 THEN 50 WHEN d <= 10000 THEN 20 ELSE 0 END AS INT) AS score,
      |       CASE WHEN (CASE WHEN seg_eq THEN 40 ELSE 0 END +
      |                  CASE WHEN d <= 2000 THEN 50 WHEN d <= 10000 THEN 20 ELSE 0 END) >= 70 THEN 'match'
      |            WHEN (CASE WHEN seg_eq THEN 40 ELSE 0 END +
      |                  CASE WHEN d <= 2000 THEN 50 WHEN d <= 10000 THEN 20 ELSE 0 END) >= 40 THEN 'possible'
      |            ELSE 'weak' END AS tier
      |FROM pairs
      |ORDER BY score DESC, id_a, id_b LIMIT 100""".stripMargin) { (s, dir) =>
    graft.ops.RecordLinkage.linkPairs(Tables.customer(s, dir),
      col("c_custkey"), col("c_nationkey"),
      round(col("c_acctbal") * 100, 0).cast("long"), col("c_mktsegment"))
  }

  // x142 — CUBE REVENUE (segment × priority): all four grouping sets in
  // ONE Expand pass over the joined fact (x130 computes the ROLLUP
  // lattice; CUBE adds the cross-margins). Exact cents, grouping bits.
  val x142 = Q(
    "x142_cube_revenue",
    """WITH f AS (
      |  SELECT c_mktsegment AS seg, o_orderpriority AS pri,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |SELECT coalesce(seg, '(all)') AS segment, coalesce(pri, '(all)') AS priority,
      |       CAST(grouping(seg) * 2 + grouping(pri) AS INT) AS lvl,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(cents) AS BIGINT) AS cents
      |FROM f
      |GROUP BY CUBE (seg, pri)
      |ORDER BY lvl, segment, priority""".stripMargin) { (s, dir) =>
    val f = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    f.cube(col("seg"), col("pri"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"),
        (grouping(col("seg")) * 2 + grouping(col("pri"))).cast("int").as("lvl"))
      .select(coalesce(col("seg"), lit("(all)")).as("segment"),
        coalesce(col("pri"), lit("(all)")).as("priority"),
        col("lvl"), col("n_orders"), col("cents"))
      .orderBy("lvl", "segment", "priority")
  }

  // x143 — EXACT COVARIANCE MATRIX over lineitem's four money/measure
  // columns in ONE pass: a single combinable aggregation builds all
  // k + k(k+1)/2 accumulators (sums + pair dot products, DECIMAL-exact),
  // then a stack unpivot emits the 10-pair matrix. The double-based
  // corr() built-in is accumulation-order-dependent and could never
  // hash-match; this is the engine-reproducible form.
  val x143 = Q(
    "x143_cov_matrix",
    """WITH c AS (
      |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qty,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
      |         CAST(round(l_discount * 100) AS BIGINT) AS disc,
      |         CAST(round(l_tax * 100) AS BIGINT) AS tax
      |  FROM lineitem),
      |w AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(qty AS HUGEINT)) AS s_qty, sum(CAST(price AS HUGEINT)) AS s_price,
      |         sum(CAST(disc AS HUGEINT)) AS s_disc, sum(CAST(tax AS HUGEINT)) AS s_tax,
      |         sum(CAST(qty AS HUGEINT) * qty) AS d_qty_qty,
      |         sum(CAST(qty AS HUGEINT) * price) AS d_qty_price,
      |         sum(CAST(qty AS HUGEINT) * disc) AS d_qty_disc,
      |         sum(CAST(qty AS HUGEINT) * tax) AS d_qty_tax,
      |         sum(CAST(price AS HUGEINT) * price) AS d_price_price,
      |         sum(CAST(price AS HUGEINT) * disc) AS d_price_disc,
      |         sum(CAST(price AS HUGEINT) * tax) AS d_price_tax,
      |         sum(CAST(disc AS HUGEINT) * disc) AS d_disc_disc,
      |         sum(CAST(disc AS HUGEINT) * tax) AS d_disc_tax,
      |         sum(CAST(tax AS HUGEINT) * tax) AS d_tax_tax
      |  FROM c),
      |p AS (
      |  SELECT 'qty' AS col_x, 'qty' AS col_y, s_qty AS sx, s_qty AS sy, d_qty_qty AS dot, n FROM w
      |  UNION ALL SELECT 'qty', 'price', s_qty, s_price, d_qty_price, n FROM w
      |  UNION ALL SELECT 'qty', 'disc', s_qty, s_disc, d_qty_disc, n FROM w
      |  UNION ALL SELECT 'qty', 'tax', s_qty, s_tax, d_qty_tax, n FROM w
      |  UNION ALL SELECT 'price', 'price', s_price, s_price, d_price_price, n FROM w
      |  UNION ALL SELECT 'price', 'disc', s_price, s_disc, d_price_disc, n FROM w
      |  UNION ALL SELECT 'price', 'tax', s_price, s_tax, d_price_tax, n FROM w
      |  UNION ALL SELECT 'disc', 'disc', s_disc, s_disc, d_disc_disc, n FROM w
      |  UNION ALL SELECT 'disc', 'tax', s_disc, s_tax, d_disc_tax, n FROM w
      |  UNION ALL SELECT 'tax', 'tax', s_tax, s_tax, d_tax_tax, n FROM w)
      |SELECT col_x, col_y, n AS n_rows,
      |       CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
      |       CAST((n * dot - sx * sy) // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS cov_q
      |FROM p
      |ORDER BY col_x, col_y""".stripMargin) { (s, dir) =>
    Profile.covMatrix(Tables.lineitem(s, dir), Seq(
        "qty" -> round(col("l_quantity") * 100, 0),
        "price" -> round(col("l_extendedprice") * 100, 0),
        "disc" -> round(col("l_discount") * 100, 0),
        "tax" -> round(col("l_tax") * 100, 0)))
      .orderBy("col_x", "col_y")
  }

  // x144 — ZONE-MAP PRUNING AUDIT: block min/max stats over the orders
  // fact (block = 4096 consecutive orderkeys, measure = orderdate as
  // epoch days) folded into one pruning-power row for a Q1-1995
  // half-year predicate. The answer to "is this table worth
  // re-clustering?" computed without touching any layout.
  val x144 = Q(
    "x144_zone_prune",
    """WITH b AS (
      |  SELECT o_orderkey // 4096 AS blk,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS m
      |  FROM orders),
      |s AS (
      |  SELECT blk, CAST(count(*) AS BIGINT) AS n_rows,
      |         min(m) AS min_m, max(m) AS max_m,
      |         CAST(sum(CASE WHEN m BETWEEN 9131 AND 9311 THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      |  FROM b GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS blocks_total,
      |       CAST(sum(n_rows) AS BIGINT) AS rows_total,
      |       CAST(sum(CASE WHEN max_m < 9131 OR min_m > 9311 THEN 1 ELSE 0 END) AS BIGINT) AS blocks_pruned,
      |       CAST(sum(CASE WHEN max_m < 9131 OR min_m > 9311 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_pruned,
      |       CAST(sum(n_match) AS BIGINT) AS rows_match,
      |       CAST(sum(CASE WHEN max_m < 9131 OR min_m > 9311 THEN n_rows ELSE 0 END) * 1000000 // sum(n_rows) AS BIGINT) AS pruned_rows_ppm,
      |       CAST(sum(n_match) * 1000000 // sum(n_rows) AS BIGINT) AS match_ppm
      |FROM s""".stripMargin) { (s, dir) =>
    // 9131/9311 = 1995-01-01 / 1995-06-30 as epoch days — shared
    // constants with the oracle, derived once, not at query time
    graft.ext.Layout.zonePruneAudit(Tables.orders(s, dir),
      col("o_orderkey"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")),
      blockSize = 4096L, lo = 9131L, hi = 9311L)
  }

  // x145 — JOIN-CARDINALITY STATS via key histograms: the exact
  // |A ⋈ B| of the schema's three fact joins computed at KEY
  // cardinality — the fact rows never shuffle, only (key, count)
  // pairs. The optimizer-statistics primitive behind join reordering
  // and broadcast planning.
  private def joinCardSql(edge: String, lt: String, lk: String,
      rt: String, rk: String): String =
    s"""SELECT '$edge' AS edge, n_left, n_right, keys_left, keys_right,
       |       keys_matched, join_rows, max_key_rows
       |FROM (
       |  SELECT CAST(sum(cl) AS BIGINT) AS n_left, CAST(count(*) AS BIGINT) AS keys_left
       |  FROM (SELECT $lk AS k, CAST(count(*) AS BIGINT) AS cl FROM $lt GROUP BY 1)),
       |     (
       |  SELECT CAST(sum(cr) AS BIGINT) AS n_right, CAST(count(*) AS BIGINT) AS keys_right
       |  FROM (SELECT $rk AS k, CAST(count(*) AS BIGINT) AS cr FROM $rt GROUP BY 1)),
       |     (
       |  SELECT CAST(count(*) AS BIGINT) AS keys_matched,
       |         CAST(coalesce(sum(CAST(cl AS HUGEINT) * cr), 0) AS BIGINT) AS join_rows,
       |         CAST(coalesce(max(CAST(cl AS HUGEINT) * cr), 0) AS BIGINT) AS max_key_rows
       |  FROM (SELECT $lk AS k, CAST(count(*) AS BIGINT) AS cl FROM $lt GROUP BY 1) l
       |  JOIN (SELECT $rk AS k, CAST(count(*) AS BIGINT) AS cr FROM $rt GROUP BY 1) r
       |  USING (k))""".stripMargin
  val x145 = Q(
    "x145_join_card",
    Seq(
      joinCardSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      joinCardSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      joinCardSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")) { (s, dir) =>
    Profile.joinCardStats(Tables.lineitem(s, dir), col("l_orderkey"),
        Tables.orders(s, dir), col("o_orderkey"), "lineitem->orders")
      .unionByName(Profile.joinCardStats(Tables.lineitem(s, dir), col("l_partkey"),
        Tables.part(s, dir), col("p_partkey"), "lineitem->part"))
      .unionByName(Profile.joinCardStats(Tables.orders(s, dir), col("o_custkey"),
        Tables.customer(s, dir), col("c_custkey"), "orders->customer"))
      .orderBy("edge")
  }

  // x146 — FEATURE HASHING (the hashing trick): whitespace tokens →
  // poly_hash % 64 slots, per-language slot totals + collision counts.
  // Fixed-dimension featurization whose output is O(strata·buckets)
  // no matter the corpus; the native PolyHash expression keeps the
  // hash inside codegen and the oracle reproduces it with list_reduce.
  val x146 = Q(
    "x146_feature_hash",
    """WITH tok AS (
      |  SELECT lang,
      |         unnest(list_filter(string_split_regex(trim(text), '\s+'), c -> c <> '')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT lang, tok,
      |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
      |                               c -> CAST(ascii(c) AS BIGINT))),
      |              (a, c) -> (a * 31 + c) % 1000000007) % 64 AS INT) AS bucket
      |  FROM tok)
      |SELECT lang AS stratum, bucket, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
      |FROM h GROUP BY 1, 2
      |ORDER BY stratum, bucket""".stripMargin) { (s, dir) =>
    Vocab.featureHashProfile(Tables.documents(s, dir), col("text"),
        col("lang"), buckets = 64)
      .orderBy("stratum", "bucket")
  }

  // x147 — SESSION SURVIVAL CURVE with right-censoring: the share of
  // sessions observed to survive past each minute mark, sessions still
  // alive at the observation edge held out of the denominator. One
  // user-key exchange; thresholds fan out over the SESSION table only.
  val x147 = Q(
    "x147_survival",
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
      |m AS (
      |  SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |  FROM e),
      |s AS (
      |  SELECT *, SUM(CASE WHEN prev IS NULL OR tus - prev > 1800000000
      |                     THEN 1 ELSE 0 END)
      |         OVER (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM m),
      |sess AS (
      |  SELECT user_id, session_seq,
      |         (max(tus) - min(tus)) // 1000000 AS duration_secs,
      |         max(tus) AS eus
      |  FROM s GROUP BY 1, 2),
      |mx AS (SELECT max(eus) AS max_eus FROM sess),
      |f AS (
      |  SELECT duration_secs,
      |         CASE WHEN eus > max_eus - 1800000000 THEN 1 ELSE 0 END AS censored
      |  FROM sess, mx),
      |marks AS (SELECT unnest([0, 1, 2, 5, 10, 15, 30, 60]) AS t_min)
      |SELECT t_min,
      |       CAST(sum(CASE WHEN censored = 0 AND duration_secs >= t_min * 60
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alive,
      |       CAST(sum(CASE WHEN censored = 1 AND duration_secs >= t_min * 60
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_censored_alive,
      |       CAST(CASE WHEN sum(1 - censored) = 0 THEN 0
      |            ELSE sum(CASE WHEN censored = 0 AND duration_secs >= t_min * 60
      |                          THEN 1 ELSE 0 END) * 1000000 // sum(1 - censored)
      |            END AS BIGINT) AS surv_ppm
      |FROM f CROSS JOIN marks
      |GROUP BY t_min
      |ORDER BY t_min""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.survivalCurve(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), gapMicros = 1800000000L,
        minuteMarks = Seq(0, 1, 2, 5, 10, 15, 30, 60))
      .orderBy("t_min")
  }

  // x148 — LINK PREDICTION over the co-shingle graph: top-50 NON-edge
  // pairs by exact-integer resource-allocation index (Σ 1e6 div deg(z)
  // over common neighbors). Wedge-join candidates, pair-level
  // aggregation BEFORE the existing-edge anti-join, TakeOrdered top-k.
  val x148 = Q(
    "x148_link_pred",
    s"""WITH $coShingleEdgeCtes,
      |mid AS (
      |  SELECT e.src AS z, e.dst AS leaf, 1000000 // d.deg AS w
      |  FROM e JOIN deg d ON d.src = e.src),
      |p AS (
      |  SELECT ea.leaf AS a, eb.leaf AS b, ea.w
      |  FROM mid ea JOIN mid eb ON ea.z = eb.z AND ea.leaf < eb.leaf),
      |g AS (
      |  SELECT a, b, CAST(count(*) AS BIGINT) AS cn, CAST(sum(w) AS BIGINT) AS ra_e6
      |  FROM p GROUP BY 1, 2),
      |ng AS (
      |  SELECT g.* FROM g LEFT JOIN e0 ON g.a = e0.s AND g.b = e0.d
      |  WHERE e0.s IS NULL)
      |SELECT a, b, cn, ra_e6 FROM ng
      |ORDER BY ra_e6 DESC, cn DESC, a, b
      |LIMIT 50""".stripMargin) { (s, dir) =>
    Graph.linkPrediction(
      Graph.coShingleEdges(Tables.documents(s, dir).where(col("doc_id") < 1500),
        col("doc_id"), col("text"), n = 3, maxShingleDf = 64L),
      k = 50)
  }

  // x149 — EWMA ORDER LEVEL per customer (α=1/2 over the last 8
  // orders, exact integer weights 128…1): the finite-history
  // exponential smoothing a spend-forecast feature store keeps. One
  // key-partitioned rank window + one combinable weighted groupBy.
  val x149 = Q(
    "x149_ewma_spend",
    """WITH o AS (
      |  SELECT o_custkey AS key, epoch_us(o_orderdate) AS tus,
      |         o_orderkey AS ord,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS m
      |  FROM orders),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY tus DESC, ord DESC) AS rn
      |  FROM o),
      |f AS (SELECT * FROM r WHERE rn <= 8)
      |SELECT key, CAST(count(*) AS BIGINT) AS k_used,
      |       CAST(sum(m * (CAST(1 AS BIGINT) << (8 - rn)))
      |            // ((CAST(1 AS BIGINT) << 8) - (CAST(1 AS BIGINT) << (8 - count(*))))
      |            AS BIGINT) AS ewma_m,
      |       max(CASE WHEN rn = 1 THEN m END) AS last_m
      |FROM f GROUP BY key
      |ORDER BY key""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.ewmaLast(Tables.orders(s, dir), col("o_custkey"),
        col("o_orderdate"), col("o_orderkey"),
        round(col("o_totalprice") * 100, 0), taps = 8)
      .orderBy("key")
  }

  // shared CTEs: per-(region, epoch-day) revenue cents — the daily
  // series x150 fits a trend to and x153 scans for a changepoint
  private val regionDailyCtes =
    """f AS (
      |  SELECT r_name AS key,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
      |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey),
      |d AS (SELECT key, x, CAST(sum(cents) AS BIGINT) AS y FROM f GROUP BY 1, 2)""".stripMargin
  private def regionDaily(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("key"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .as("x"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long").as("cents"))
      .groupBy("key", "x").agg(sum(col("cents")).as("y"))

  // x150 — REGRESSION TREND per region: the least-squares slope of
  // daily revenue in exact-rational ppm form. One daily pre-agg + one
  // combinable moment groupBy — no float regr_slope, no window.
  val x150 = Q(
    "x150_trend_slope",
    s"""WITH $regionDailyCtes,
      |w AS (
      |  SELECT key, CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |         sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM d GROUP BY 1)
      |SELECT key, n, CAST(sy AS BIGINT) AS sum_y,
      |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |            ELSE CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
      |            END AS slope_e6
      |FROM w
      |ORDER BY key""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.trendSlope(regionDaily(s, dir),
        col("key"), col("x"), col("y"))
      .orderBy("key")
  }

  // x151 — ENTRY/EXIT/BOUNCE per event type: which events open and
  // close sessions, and which stand alone. min_by/max_by over the
  // total session order — combinable, no second window after
  // sessionization; assembly joins run at TYPE cardinality.
  val x151 = Q(
    "x151_entry_exit",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type AS typ, epoch_us(ts) AS tus FROM events),
      |m AS (
      |  SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |  FROM e),
      |s AS (
      |  SELECT *, SUM(CASE WHEN prev IS NULL OR tus - prev > 1800000000
      |                     THEN 1 ELSE 0 END)
      |         OVER (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM m),
      |r AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY user_id, session_seq ORDER BY tus, event_id) AS ra,
      |         row_number() OVER (PARTITION BY user_id, session_seq ORDER BY tus DESC, event_id DESC) AS rd
      |  FROM s),
      |sess AS (
      |  SELECT user_id, session_seq,
      |         max(CASE WHEN ra = 1 THEN typ END) AS entry_typ,
      |         max(CASE WHEN rd = 1 THEN typ END) AS exit_typ,
      |         CAST(count(*) AS BIGINT) AS n_events
      |  FROM r GROUP BY 1, 2),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM sess),
      |en AS (
      |  SELECT entry_typ AS event_type, CAST(count(*) AS BIGINT) AS n_entry,
      |         CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce
      |  FROM sess GROUP BY 1),
      |ex AS (SELECT exit_typ AS event_type, CAST(count(*) AS BIGINT) AS n_exit
      |       FROM sess GROUP BY 1)
      |SELECT coalesce(en.event_type, ex.event_type) AS event_type,
      |       coalesce(n_entry, 0) AS n_entry, coalesce(n_exit, 0) AS n_exit,
      |       coalesce(n_bounce, 0) AS n_bounce,
      |       CAST(coalesce(n_entry, 0) * 1000000 // n_sessions AS BIGINT) AS entry_ppm,
      |       CAST(coalesce(n_exit, 0) * 1000000 // n_sessions AS BIGINT) AS exit_ppm
      |FROM en FULL OUTER JOIN ex ON en.event_type = ex.event_type, tot
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.entryExitStats(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        gapMicros = 1800000000L)
      .orderBy("event_type")
  }

  // x152 — CROSS-SOURCE VOCABULARY OVERLAP from MERGED HLL registers:
  // inclusion-exclusion on the deterministic sketch (union = register
  // max — the merge law), exact overlap alongside as the error gate.
  // Registers built once; every pair union folds 64-row states.
  val x152 = Q(
    "x152_hll_overlap",
    """WITH t AS (
      |  SELECT source,
      |         unnest(list_filter(string_split_regex(trim(text), '\s+'), c -> c <> '')) AS el
      |  FROM documents),
      |dd AS (SELECT DISTINCT source, el FROM t),
      |hh AS (SELECT source, ('0x' || substring(md5(el), 1, 15))::BIGINT AS h FROM t),
      |fb AS (SELECT source, h & 63 AS bucket, h >> 6 AS w2 FROM hh),
      |rho AS (SELECT source, bucket,
      |               CASE WHEN w2 = 0 THEN 55 ELSE 55 - length(bin(w2)) END AS rho
      |        FROM fb),
      |regs AS (SELECT source, bucket, MAX(rho) AS mj FROM rho GROUP BY 1, 2),
      |est1 AS (
      |  SELECT source,
      |         CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(64 AS DOUBLE))
      |           * CAST(4096 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
      |           / CAST(present_sum + (64 - n_present) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS est
      |  FROM (SELECT source,
      |               SUM(CAST(1 AS BIGINT) << CAST(55 - mj AS INT)) AS present_sum,
      |               COUNT(*) AS n_present
      |        FROM regs GROUP BY 1)),
      |ks AS (SELECT DISTINCT source FROM regs),
      |pairs AS (SELECT a.source AS ka, b.source AS kb FROM ks a JOIN ks b ON a.source < b.source),
      |mregs AS (
      |  SELECT ka, kb, bucket, MAX(mj) AS mj
      |  FROM pairs JOIN regs ON regs.source = ka OR regs.source = kb
      |  GROUP BY 1, 2, 3),
      |estu AS (
      |  SELECT ka, kb,
      |         CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(64 AS DOUBLE))
      |           * CAST(4096 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
      |           / CAST(present_sum + (64 - n_present) * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS est
      |  FROM (SELECT ka, kb,
      |               SUM(CAST(1 AS BIGINT) << CAST(55 - mj AS INT)) AS present_sum,
      |               COUNT(*) AS n_present
      |        FROM mregs GROUP BY 1, 2)),
      |exact AS (
      |  SELECT u.source AS ka, v.source AS kb, CAST(count(*) AS BIGINT) AS n_overlap_exact
      |  FROM dd u JOIN dd v ON u.el = v.el AND u.source < v.source
      |  GROUP BY 1, 2)
      |SELECT estu.ka, estu.kb, a.est AS est_a, b.est AS est_b, estu.est AS est_union,
      |       a.est + b.est - estu.est AS overlap_est,
      |       coalesce(n_overlap_exact, 0) AS n_overlap_exact
      |FROM estu
      |JOIN est1 a ON a.source = estu.ka
      |JOIN est1 b ON b.source = estu.kb
      |LEFT JOIN exact ON exact.ka = estu.ka AND exact.kb = estu.kb
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Sketches.hllOverlap(
      docs.select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("el"))
        .where(col("el") =!= ""),
      col("source"), col("el"))
      .orderBy("ka", "kb")
  }

  // x153 — CUSUM CHANGEPOINT per region: peak |cumulative deviation|
  // of the daily revenue series, mean-centering exact via n·y − Σy.
  // One totals broadcast + key-partitioned running and rank windows.
  val x153 = Q(
    "x153_cusum",
    s"""WITH $regionDailyCtes,
      |t2 AS (SELECT key, CAST(count(*) AS BIGINT) AS n, sum(CAST(y AS HUGEINT)) AS total
      |       FROM d GROUP BY 1),
      |c AS (
      |  SELECT d.key, d.x, t2.n,
      |         SUM(CAST(t2.n AS HUGEINT) * d.y - t2.total)
      |           OVER (PARTITION BY d.key ORDER BY d.x ROWS UNBOUNDED PRECEDING) AS cusum
      |  FROM d JOIN t2 USING (key)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY abs(cusum) DESC, x) AS rn
      |      FROM c)
      |SELECT key, n, x AS peak_x, CAST(cusum AS BIGINT) AS peak_cusum
      |FROM r WHERE rn = 1
      |ORDER BY key""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.cusumPeak(regionDaily(s, dir),
        col("key"), col("x"), col("y"))
      .orderBy("key")
  }

  // x154 — EXPORTABLE BLOOM FILTER: the 16-word (62 bits/word, always-
  // positive masks) deterministic bloom of the benchmark token set as a
  // TABLE — the artifact another system consumes, vs x43's in-plan
  // prefilter. bit_or is monotone-combinable → shard-mergeable and a
  // valid streaming aggregate (StreamingSketchSpec).
  private val bloomSeedRows = graft.ext.Dedup.hashCoeffs(3).zipWithIndex
    .map { case ((a, b, c), i) => s"($i, $a, $b, $c)" }.mkString(", ")
  val x154 = Q(
    "x154_bloom_export",
    s"""WITH seeds(i, a, b, c) AS (VALUES $bloomSeedRows),
      |toks AS (
      |  SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), c -> c <> '')) AS el
      |  FROM documents WHERE doc_id < 500),
      |hh AS (SELECT ('0x' || substring(md5(el), 1, 15))::BIGINT AS h FROM toks),
      |bs AS (
      |  SELECT ((a * (h & 1073741823) + b * (h >> 30) + c) % 1000000007) % 992 AS bit
      |  FROM hh CROSS JOIN seeds),
      |occ AS (
      |  SELECT bit // 62 AS word_idx,
      |         bit_or(CAST(1 AS BIGINT) << CAST(bit % 62 AS INT)) AS bits
      |  FROM bs GROUP BY 1),
      |w AS (SELECT unnest(range(0, 16)) AS word_idx)
      |SELECT w.word_idx, coalesce(occ.bits, 0) AS bits,
      |       CAST(bit_count(coalesce(occ.bits, 0)) AS INT) AS n_set
      |FROM w LEFT JOIN occ USING (word_idx)
      |ORDER BY word_idx""".stripMargin) { (s, dir) =>
    Sketches.bloomBits(
      Tables.documents(s, dir).where(col("doc_id") < 500)
        .select(explode(split(trim(col("text")), "\\s+")).as("el"))
        .where(col("el") =!= ""),
      col("el"), words = 16, d = 3)
      .orderBy("word_idx")
  }

  // x155 — LINEAR MULTI-TOUCH ATTRIBUTION: each purchase's 1e6 ppm of
  // credit splits equally over its journey's touches (remainder to the
  // first touch, so credit conserves EXACTLY); x131's last-touch is the
  // single-beneficiary special case. One user window forms journeys.
  val x155 = Q(
    "x155_linear_attribution",
    """WITH e AS (
      |  SELECT user_id, event_id AS ord, event_type AS typ, epoch_us(ts) AS tus
      |  FROM events),
      |b AS (SELECT *, CASE WHEN typ = 'purchase' THEN 1 ELSE 0 END AS is_conv FROM e),
      |j AS (
      |  SELECT *, coalesce(SUM(is_conv) OVER (PARTITION BY user_id ORDER BY tus, ord
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS journey
      |  FROM b),
      |jn AS (
      |  SELECT user_id, journey, MAX(is_conv) AS converted,
      |         CAST(SUM(1 - is_conv) AS BIGINT) AS n_touch
      |  FROM j GROUP BY 1, 2),
      |conv AS (SELECT * FROM jn WHERE converted = 1),
      |t AS (
      |  SELECT j.user_id, j.journey, j.typ,
      |         row_number() OVER (PARTITION BY j.user_id, j.journey ORDER BY j.tus, j.ord) AS touch_rank,
      |         c.n_touch
      |  FROM j JOIN conv c ON j.user_id = c.user_id AND j.journey = c.journey
      |  WHERE j.is_conv = 0),
      |cr AS (
      |  SELECT typ AS channel, user_id, journey,
      |         1000000 // n_touch
      |           + CASE WHEN touch_rank = 1 THEN 1000000 % n_touch ELSE 0 END AS credit
      |  FROM t),
      |bc AS (
      |  SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      |         CAST(sum(credit) AS BIGINT) AS credit_e6
      |  FROM cr GROUP BY 1),
      |jc AS (
      |  SELECT channel, CAST(count(*) AS BIGINT) AS n_journeys
      |  FROM (SELECT DISTINCT channel, user_id, journey FROM cr) GROUP BY 1),
      |dir AS (SELECT CAST(count(*) AS BIGINT) AS n_direct FROM conv WHERE n_touch = 0),
      |drow AS (
      |  SELECT '(direct)' AS channel, CAST(0 AS BIGINT) AS n_touches,
      |         CAST(0 AS BIGINT) AS n_journeys, n_direct * 1000000 AS credit_e6
      |  FROM dir WHERE n_direct > 0)
      |SELECT channel, n_touches, coalesce(n_journeys, 0) AS n_journeys, credit_e6
      |FROM bc LEFT JOIN jc USING (channel)
      |UNION ALL SELECT channel, n_touches, n_journeys, credit_e6 FROM drow
      |ORDER BY channel""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.linearAttribution(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        convType = "purchase")
      .orderBy("channel")
  }

  // x156 — JSON FIELD ANALYTICS: extract `props.k` scan-side
  // (get_json_object — codegen'd, no UDF) and run exact per-type order-
  // statistic quantiles over it. The semi-structured column promoted to
  // a first-class measure without a schema migration; parse cost is one
  // projection, rows with a missing/malformed field are counted, not
  // silently dropped.
  val x156 = Q(
    "x156_props_stats",
    """WITH e AS (
      |  SELECT event_type AS stratum,
      |         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
      |  FROM events),
      |nn AS (SELECT stratum, CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
      |       FROM e GROUP BY 1),
      |d AS (SELECT stratum, v FROM e WHERE v IS NOT NULL),
      |c AS (SELECT stratum, CAST(count(*) AS BIGINT) AS cs FROM d GROUP BY 1),
      |r AS (SELECT stratum, v,
      |             CAST(row_number() OVER (PARTITION BY stratum ORDER BY v) AS BIGINT) AS rn
      |      FROM d),
      |q AS (SELECT r.stratum, CAST(count(*) AS BIGINT) AS n,
      |             max(CASE WHEN rn = (25 * cs + 99) // 100 THEN v END) AS p25,
      |             max(CASE WHEN rn = (50 * cs + 99) // 100 THEN v END) AS p50,
      |             max(CASE WHEN rn = (95 * cs + 99) // 100 THEN v END) AS p95
      |      FROM r JOIN c USING (stratum) GROUP BY r.stratum)
      |SELECT q.stratum, n, p25, p50, p95, n_missing
      |FROM q JOIN nn ON nn.stratum = q.stratum
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    // ONE JSON pass (round 18): get_json_object over every row is the
    // query's dominant cost and was being paid once per consumer (the
    // missing-count aggregate AND the quantile rank). The missing count
    // is instead DERIVED — n_missing = stratum total − non-null count —
    // where the total comes from a JSON-free scan that column-prunes to
    // event_type alone, and the non-null count is groupQuantiles' own
    // `n` (free since the rank exports its stratum totals).
    // ...and the one pass runs at cluster width: the events scan is
    // 1–2 row groups at sf1, so without the spread the JSON parse —
    // the dominant per-row cost — ran on ≤2 cores (the x28 shape)
    val e = Spread.toClusterWidth(
        Tables.events(s, dir).select(col("event_type"), col("props")))
      .select(col("event_type").as("stratum"),
        get_json_object(col("props"), "$.k").cast("long").as("v"))
    val totals = Tables.events(s, dir)
      .groupBy(col("event_type").as("stratum"))
      .agg(count(lit(1)).as("__total"))
    Profile.groupQuantiles(e.where(col("v").isNotNull),
        col("stratum"), col("v"), Seq(25, 50, 95), lowCardStrata = true)
      .join(broadcast(totals), Seq("stratum"))
      .select(col("stratum"), col("n"), col("p25"), col("p50"), col("p95"),
        (col("__total") - col("n")).as("n_missing"))
      .orderBy("stratum")
  }

  // x157 — HEADER/DETAIL RECONCILIATION: orders.o_totalprice audited
  // against the per-line derived total (line-level cents rounding — the
  // contract both engines share). Details pre-aggregate to key
  // cardinality before meeting the header; one co-partitioned join.
  val x157 = Q(
    "x157_reconcile_totals",
    """WITH dl AS (
      |  SELECT l_orderkey AS k,
      |         CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT) AS c
      |  FROM lineitem),
      |d AS (SELECT k, CAST(sum(c) AS BIGINT) AS derived FROM dl GROUP BY 1),
      |h AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS booked
      |      FROM orders),
      |j AS (SELECT h.k, booked, derived, derived - booked AS diff
      |      FROM h LEFT JOIN d USING (k))
      |SELECT CAST(count(*) AS BIGINT) AS n_headers,
      |       CAST(sum(CASE WHEN derived IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
      |       CAST(sum(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |       CAST(sum(CASE WHEN diff <> 0 AND abs(diff) <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_tol,
      |       CAST(sum(CASE WHEN abs(diff) > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks,
      |       CAST(coalesce(max(abs(diff)), 0) AS BIGINT) AS max_abs_diff,
      |       CAST(coalesce(sum(abs(diff)), 0) AS BIGINT) AS total_abs_diff
      |FROM j""".stripMargin) { (s, dir) =>
    graft.ops.SnapshotDiff.reconcileTotals(
      Tables.orders(s, dir), col("o_orderkey"),
      round(col("o_totalprice") * 100, 0),
      Tables.lineitem(s, dir), col("l_orderkey"),
      round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * (lit(1) + col("l_tax")) * 100, 0),
      tolCents = 5L)
  }

  // x158 — NEAR-DUP CLUSTER KEEPERS: x39's connected components closed
  // into the actionable delete list — per cluster, the highest-quality
  // member kept (n_chars desc, id asc) and the bytes dropping the rest
  // saves. Election is one combinable max(struct), never a window.
  val x158 = Q(
    "x158_cluster_keepers",
    s"""WITH RECURSIVE $x7Ctes,
      |pr AS ($x7Select),
      |edges AS (SELECT a AS u, b AS v FROM pr UNION ALL SELECT b, a FROM pr),
      |reach(id, label) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.id),
      |cc AS (SELECT id AS doc_id, min(label) AS cluster FROM reach GROUP BY id),
      |mem AS MATERIALIZED (SELECT cc.cluster, cc.doc_id, d.n_chars
      |        FROM cc JOIN documents d USING (doc_id)),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn
      |       FROM mem),
      |gg AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
      |              CAST(sum(n_chars) AS BIGINT) AS chars_total
      |       FROM mem GROUP BY 1),
      |kp AS (SELECT cluster, doc_id AS keeper_id, n_chars AS keeper_chars
      |       FROM rk WHERE rn = 1)
      |SELECT gg.cluster, keeper_id, n_members, chars_total,
      |       chars_total - keeper_chars AS chars_saved
      |FROM gg JOIN kp USING (cluster)
      |ORDER BY cluster""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Dedup.clusterKeepers(
      Dedup.minhashPairs(docs, col("doc_id"), col("text")),
      docs, col("doc_id"), col("n_chars"))
      .orderBy("cluster")
  }

  // x159 — RFM SEGMENTATION: customers cut into 4×4×4 equal-population
  // recency/frequency/monetary cells (bucket 0 = best). Three TWO-PHASE
  // global rankings (Profile.globalBuckets — the oracle pays the
  // ntile-style global window this plan exists to avoid), entity-key
  // joins, one 64-row rollup.
  val x159 = Q(
    "x159_rfm_segments",
    """WITH c AS (
      |  SELECT o_custkey AS id,
      |         max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS r,
      |         CAST(count(*) AS BIGINT) AS f,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mv
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM c),
      |rb AS (SELECT id, least((row_number() OVER (ORDER BY r DESC, id) - 1) * 4 // total, 3) AS r_bucket
      |       FROM c, n),
      |fb AS (SELECT id, least((row_number() OVER (ORDER BY f DESC, id) - 1) * 4 // total, 3) AS f_bucket
      |       FROM c, n),
      |mb AS (SELECT id, mv, least((row_number() OVER (ORDER BY mv DESC, id) - 1) * 4 // total, 3) AS m_bucket
      |       FROM c, n)
      |SELECT r_bucket, f_bucket, m_bucket,
      |       CAST(count(*) AS BIGINT) AS n_entities,
      |       CAST(sum(mv) AS BIGINT) AS monetary_total
      |FROM rb JOIN fb USING (id) JOIN mb USING (id)
      |GROUP BY 1, 2, 3
      |ORDER BY r_bucket, f_bucket, m_bucket""".stripMargin) { (s, dir) =>
    val cust = Tables.orders(s, dir)
      .select(col("o_custkey").as("id"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("id")
      .agg(max(col("day")).as("r"), count(lit(1)).as("f"),
        sum(col("cents")).as("mv"))
    Profile.rfmSegments(cust, col("id"), col("r"), col("f"), col("mv"),
        buckets = 4)
      .orderBy("r_bucket", "f_bucket", "m_bucket")
  }

  // x160 — POWER-LAW FIT of the doc-length distribution: x96's log2
  // histogram composed with x150's exact-rational regression, on the
  // log-log plane via EXACT integer log2 (bit length — the HLL rho
  // trick), so the heavy-tail exponent estimate is engine-reproducible
  // where a float ln-regression never is. slope_e6 ≈ −(α−1)·1e6 for a
  // Zipf-ish tail.
  val x160 = Q(
    "x160_powerlaw_fit",
    """WITH v AS (SELECT n_chars AS v FROM documents WHERE n_chars >= 1),
      |h AS (
      |  SELECT length(bin(v)) - 1 AS b, CAST(count(*) AS BIGINT) AS n
      |  FROM v GROUP BY 1),
      |pts AS (
      |  SELECT CAST(b AS BIGINT) AS x, CAST(length(bin(n)) - 1 AS BIGINT) AS y
      |  FROM h),
      |w AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |         sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM pts)
      |SELECT 'n_chars' AS measure, n AS n_buckets, CAST(sy AS BIGINT) AS sum_y,
      |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |            ELSE CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
      |            END AS slope_e6
      |FROM w""".stripMargin) { (s, dir) =>
    val hist = Profile.log2Hist(
      Tables.documents(s, dir).where(col("n_chars") >= 1), col("n_chars"))
    val pts = hist.select(
      (length(bin(col("bucket_lo"))) - 1).cast("long").as("x"),
      (length(bin(col("n_entities"))) - 1).cast("long").as("y"))
    graft.ext.TimeSeries.trendSlope(pts.select(lit("n_chars").as("k"),
        col("x"), col("y")), col("k"), col("x"), col("y"))
      .select(col("key").as("measure"), col("n").as("n_buckets"),
        col("sum_y"), col("slope_e6"))
  }

  // x161 — FULFILLMENT SLA: ship-lag day quantiles per order priority
  // (the p99 a contract cares about), exact order statistics, the
  // lineitem⋈orders join co-keyed on orderkey.
  val x161 = Q(
    "x161_ship_lag",
    """WITH d AS (
      |  SELECT o_orderpriority AS stratum,
      |         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS v
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |c AS (SELECT stratum, CAST(count(*) AS BIGINT) AS cs FROM d GROUP BY 1),
      |r AS (SELECT stratum, v,
      |             CAST(row_number() OVER (PARTITION BY stratum ORDER BY v) AS BIGINT) AS rn
      |      FROM d)
      |SELECT r.stratum, CAST(count(*) AS BIGINT) AS n,
      |       max(CASE WHEN rn = (50 * cs + 99) // 100 THEN v END) AS p50,
      |       max(CASE WHEN rn = (90 * cs + 99) // 100 THEN v END) AS p90,
      |       max(CASE WHEN rn = (99 * cs + 99) // 100 THEN v END) AS p99
      |FROM r JOIN c USING (stratum)
      |GROUP BY r.stratum
      |ORDER BY stratum""".stripMargin) { (s, dir) =>
    val d = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("stratum"),
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
          .as("v"))
    Profile.groupQuantiles(d, col("stratum"), col("v"), Seq(50, 90, 99),
        lowCardStrata = true)
      .orderBy("stratum")
  }

  // x162 — INCREMENTAL STATE MERGE: regional revenue kept as a running
  // state table, a 1996+ delta folded in by one key-cardinality
  // full-outer join; the independently recomputed full total rides
  // along so the merge law (state ⊕ delta == full) is a VISIBLE zero
  // column, not a comment.
  val x162 = Q(
    "x162_incremental_agg",
    """WITH o AS (
      |  SELECT n_name AS k, o_orderdate AS d,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS m
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |st AS (SELECT k, CAST(sum(m) AS BIGINT) AS cents_state FROM o
      |       WHERE d < TIMESTAMP '1996-01-01' GROUP BY 1),
      |de AS (SELECT k, CAST(sum(m) AS BIGINT) AS cents_delta FROM o
      |       WHERE d >= TIMESTAMP '1996-01-01' GROUP BY 1),
      |fu AS (SELECT k, CAST(sum(m) AS BIGINT) AS cents_full FROM o GROUP BY 1),
      |mg AS (
      |  SELECT coalesce(st.k, de.k) AS k,
      |         coalesce(cents_state, 0) AS cents_state,
      |         coalesce(cents_delta, 0) AS cents_delta,
      |         coalesce(cents_state, 0) + coalesce(cents_delta, 0) AS cents_total
      |  FROM st FULL OUTER JOIN de ON st.k = de.k)
      |SELECT coalesce(mg.k, fu.k) AS k,
      |       coalesce(cents_state, 0) AS cents_state,
      |       coalesce(cents_delta, 0) AS cents_delta,
      |       coalesce(cents_total, 0) AS cents_total,
      |       coalesce(cents_full, 0) AS cents_full,
      |       coalesce(cents_total, 0) - coalesce(cents_full, 0) AS merge_diff
      |FROM mg FULL OUTER JOIN fu ON mg.k = fu.k
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("k"), col("o_orderdate").as("d"),
        round(col("o_totalprice") * 100, 0).cast("long").as("m"))
    val split = lit("1996-01-01").cast("timestamp")
    graft.ops.SnapshotDiff.incrementalMerge(
        o.where(col("d") < split), o.where(col("d") >= split), o,
        col("k"), col("m"))
      .orderBy("k")
  }

  // x163 — PROPORTIONAL SAMPLE with exact largest-remainder allocation:
  // a 100-row eval set over sources, quotas within 1 row of true
  // proportions, total EXACTLY the budget; rows picked by deterministic
  // md5 rank. The remainder rank is a broadcast self-join count, never
  // a global window.
  val x163 = Q(
    "x163_proportional_sample",
    """WITH b AS (SELECT source AS s, doc_id AS id FROM documents),
      |sz AS (SELECT s, CAST(count(*) AS BIGINT) AS n_s FROM b GROUP BY 1),
      |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM sz),
      |q AS (
      |  SELECT s, n_s, 100 * n_s // n_total AS quota, (100 * n_s) % n_total AS rem
      |  FROM sz, t),
      |lo AS (SELECT 100 - CAST(sum(quota) AS BIGINT) AS extra FROM q),
      |rkq AS (
      |  SELECT a.s, a.quota, CAST(count(*) AS BIGINT) AS rrank
      |  FROM q a JOIN q b2 ON b2.rem > a.rem OR (b2.rem = a.rem AND b2.s <= a.s)
      |  GROUP BY a.s, a.quota),
      |fq AS (
      |  SELECT s, quota + CASE WHEN rrank <= extra THEN 1 ELSE 0 END AS final_quota
      |  FROM rkq, lo),
      |rr AS (
      |  SELECT s, id,
      |         CAST(row_number() OVER (PARTITION BY s ORDER BY md5(CAST(id AS VARCHAR)), id) AS BIGINT) AS rk
      |  FROM b)
      |SELECT rr.s AS stratum, rr.id, rr.rk
      |FROM rr JOIN fq ON rr.s = fq.s
      |WHERE rr.rk <= fq.final_quota
      |ORDER BY stratum, rk""".stripMargin) { (s, dir) =>
    Sampling.proportionalSample(Tables.documents(s, dir),
        col("source"), col("doc_id"), budget = 100L)
      .orderBy("stratum", "rk")
  }

  // x164 — TOKEN-WEIGHTED MEDIAN doc length per source: the corpus
  // median BY TOKENS, not by document count (a million stubs must not
  // drag it). Exact weighted order statistic: running-weight window per
  // stratum + broadcast totals + conditional min.
  val x164 = Q(
    "x164_weighted_median",
    """WITH d AS (
      |  SELECT source AS stratum, doc_id AS id, n_chars AS v,
      |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS wt
      |  FROM documents),
      |t AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n, CAST(sum(wt) AS BIGINT) AS w_total
      |      FROM d GROUP BY 1),
      |r AS (
      |  SELECT stratum, v, wt,
      |         SUM(wt) OVER (PARTITION BY stratum ORDER BY v, id
      |                       ROWS UNBOUNDED PRECEDING) AS cumw
      |  FROM d)
      |SELECT r.stratum, t.n, t.w_total, min(v) AS wmedian
      |FROM r JOIN t ON r.stratum = t.stratum
      |WHERE cumw >= (w_total + 1) // 2
      |GROUP BY r.stratum, t.n, t.w_total
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    Profile.weightedMedian(Tables.documents(s, dir), col("source"),
        col("n_chars"), TextAnalysis.wsTokenCount(col("text")).cast("long"),
        col("doc_id"))
      .orderBy("stratum")
  }

  // x165 — CHURN LABELS per signup cohort: users silent for the final
  // 30 days of the extract, the edge derived from the data itself. One
  // (min, max) groupBy per user; month-cardinality rollup.
  val x165 = Q(
    "x165_churn_labels",
    """WITH u AS (
      |  SELECT user_id, min(ts) AS first_ts, max(epoch_us(ts)) AS last_us
      |  FROM events GROUP BY 1),
      |mx AS (SELECT max(last_us) AS max_us FROM u)
      |SELECT date_trunc('month', first_ts) AS cohort,
      |       CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(CASE WHEN last_us < max_us - 2592000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
      |       CAST(sum(CASE WHEN last_us < max_us - 2592000000000 THEN 1 ELSE 0 END) * 1000000
      |            // count(*) AS BIGINT) AS churn_ppm
      |FROM u, mx
      |GROUP BY 1
      |ORDER BY cohort""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.churnLabels(Tables.events(s, dir),
        col("user_id"), col("ts"), horizonMicros = 2592000000000L)
      .orderBy("cohort")
  }

  // x166 — MERKLE DATASET FINGERPRINT per source: two-level md5 fold
  // (docs → 1024-doc blocks → root), the reproducibility stamp that
  // also LOCALIZES a mismatch to a block. Group-local sorts only;
  // per-group state bounded by the block size.
  val x166 = Q(
    "x166_merkle_root",
    """WITH d AS (
      |  SELECT source AS s, doc_id AS id, doc_id // 1024 AS blk, md5(text) AS h
      |  FROM documents),
      |b AS (
      |  SELECT s, blk, CAST(count(*) AS BIGINT) AS n_docs,
      |         md5(string_agg(h, '' ORDER BY id)) AS bh
      |  FROM d GROUP BY 1, 2)
      |SELECT s AS stratum, CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |       CAST(count(*) AS BIGINT) AS n_blocks,
      |       md5(string_agg(bh, '' ORDER BY blk)) AS root_hash
      |FROM b GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    Curation.merkleFingerprint(Tables.documents(s, dir), col("source"),
        col("doc_id"), col("text"), blockSize = 1024L)
      .orderBy("stratum")
  }

  // x167 — PSEUDONYMIZATION AUDIT: salted-hash re-keying of customers
  // proven collision-free AND join-preserving (exact child-join
  // cardinality under raw vs pseudo keys) in one row — the governance
  // gate between "hashed the column" and "shipped the dataset".
  val x167 = Q(
    "x167_pseudonymize_audit",
    """WITH p AS (SELECT DISTINCT c_custkey AS k FROM customer),
      |keys AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM p),
      |ps AS (
      |  SELECT CAST(count(DISTINCT substring(md5('graft:' || CAST(k AS VARCHAR)), 1, 16)) AS BIGINT) AS n_pseudo
      |  FROM p),
      |ch AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
      |rj AS (
      |  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS join_rows_raw
      |  FROM ch WHERE k IN (SELECT k FROM p)),
      |pj AS (
      |  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS join_rows_pseudo
      |  FROM (SELECT substring(md5('graft:' || CAST(k AS VARCHAR)), 1, 16) AS pk,
      |               sum(c) AS c
      |        FROM ch GROUP BY 1)
      |  WHERE pk IN (SELECT DISTINCT substring(md5('graft:' || CAST(k AS VARCHAR)), 1, 16) FROM p))
      |SELECT n_keys, n_pseudo, n_keys - n_pseudo AS n_collisions,
      |       join_rows_raw, join_rows_pseudo,
      |       join_rows_pseudo - join_rows_raw AS join_diff
      |FROM keys, ps, rj, pj""".stripMargin) { (s, dir) =>
    graft.ops.RecordLinkage.pseudonymizeAudit(
      Tables.customer(s, dir), col("c_custkey"),
      Tables.orders(s, dir), col("o_custkey"), salt = "graft")
  }

  // x168 — SEASONAL INDEX: month-of-year revenue index per region
  // (1e6 = that region's average month). Two combinable aggregates and
  // a region-cardinality broadcast join; exact integers.
  val x168 = Q(
    "x168_seasonal_index",
    """WITH f AS (
      |  SELECT r_name AS region, CAST(month(o_orderdate) AS INT) AS m,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |rm AS (SELECT region, m, CAST(sum(cents) AS BIGINT) AS cents
      |       FROM f GROUP BY 1, 2),
      |rt AS (SELECT region, CAST(sum(cents) AS BIGINT) AS rcents,
      |              CAST(count(*) AS BIGINT) AS n_months
      |       FROM rm GROUP BY 1)
      |SELECT rm.region, rm.m, rm.cents,
      |       CAST(CAST(rm.cents AS HUGEINT) * n_months * 1000000 // rcents AS BIGINT) AS idx_e6
      |FROM rm JOIN rt ON rm.region = rt.region
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val f = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"),
        month(col("o_orderdate")).cast("int").as("m"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val rm = f.groupBy("region", "m").agg(sum(col("cents")).as("cents"))
    val rt = rm.groupBy("region")
      .agg(sum(col("cents")).as("rcents"), count(lit(1)).as("n_months"))
    rm.join(broadcast(rt), Seq("region"))
      .select(col("region"), col("m"), col("cents"),
        expr("CAST(CAST(cents AS DECIMAL(38,0)) * n_months * 1000000 DIV rcents AS BIGINT)")
          .as("idx_e6"))
      .orderBy("region", "m")
  }

  // x169 — ABC INVENTORY CLASSES: parts ranked by revenue via the
  // two-phase globalBuckets machinery (1000 slices), bucket-level
  // cumulative shares classified A (≤80%), B (≤95%), C. The oracle pays
  // the single global row_number window this plan avoids.
  val x169 = Q(
    "x169_abc_classes",
    """WITH f AS (
      |  SELECT l_partkey AS id,
      |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |p AS (SELECT id, CAST(sum(cents) AS BIGINT) AS m FROM f GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM p),
      |r AS (SELECT id, m,
      |             least((row_number() OVER (ORDER BY m DESC, id) - 1) * 1000 // total, 999) AS bucket
      |      FROM p, n),
      |b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_entities,
      |             CAST(sum(m) AS BIGINT) AS total_m
      |      FROM r GROUP BY 1),
      |g AS (SELECT CAST(sum(total_m) AS BIGINT) AS grand FROM b),
      |c AS (
      |  SELECT bucket, n_entities, total_m,
      |         CAST(CAST(sum(total_m) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
      |              AS HUGEINT) * 1000000 // grand AS BIGINT) AS cum_share_e6
      |  FROM b, g),
      |cl AS (
      |  SELECT CASE WHEN cum_share_e6 <= 800000 THEN 'A'
      |              WHEN cum_share_e6 <= 950000 THEN 'B'
      |              ELSE 'C' END AS abc_class, n_entities, total_m
      |  FROM c)
      |SELECT abc_class, CAST(sum(n_entities) AS BIGINT) AS n_parts,
      |       CAST(sum(total_m) AS BIGINT) AS cents,
      |       CAST(CAST(sum(total_m) AS HUGEINT) * 1000000 // max(g.grand) AS BIGINT) AS share_e6
      |FROM cl, g
      |GROUP BY 1
      |ORDER BY abc_class""".stripMargin) { (s, dir) =>
    val per = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("id"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long").as("cents"))
      .groupBy("id").agg(sum(col("cents")).as("m"))
    val lift = Profile.decileLift(per, col("id"), col("m"), buckets = 1000)
      .pin()
    val grand = lift.agg(sum(col("total_m")).as("grand"))
    lift.crossJoin(broadcast(grand))
      .select(
        when(col("cum_share_e6") <= 800000L, "A")
          .when(col("cum_share_e6") <= 950000L, "B").otherwise("C")
          .as("abc_class"),
        col("n_entities"), col("total_m"), col("grand"))
      .groupBy("abc_class")
      .agg(sum(col("n_entities")).as("n_parts"), sum(col("total_m")).as("cents"),
        expr("CAST(CAST(sum(total_m) AS DECIMAL(38,0)) * 1000000 DIV max(grand) AS BIGINT)")
          .as("share_e6"))
      .orderBy("abc_class")
  }

  // x170 — CHAO1 VOCABULARY RICHNESS per source: the species-richness
  // lower bound `D + F1²/(2F2)` from the frequency-of-frequencies
  // (bias-corrected form when F2 = 0) — "how much vocabulary haven't
  // we seen yet", exact integers, two combinable aggregates.
  val x170 = Q(
    "x170_chao1",
    """WITH toks AS (
      |  SELECT source,
      |         unnest(list_filter(string_split_regex(trim(text), '\s+'), c -> c <> '')) AS tok
      |  FROM documents),
      |tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
      |ff AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_distinct,
      |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM tc GROUP BY 1)
      |SELECT source, n_distinct, f1, f2,
      |       n_distinct + CASE WHEN f2 = 0 THEN f1 * (f1 - 1) // 2
      |                         ELSE f1 * f1 // (2 * f2) END AS chao1
      |FROM ff
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val tc = Tables.documents(s, dir)
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    tc.groupBy("source")
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("n_distinct"), col("f1"), col("f2"),
        (col("n_distinct") + when(col("f2") === 0L,
          expr("f1 * (f1 - 1) DIV 2")).otherwise(expr("f1 * f1 DIV (2 * f2)")))
          .as("chao1"))
      .orderBy("source")
  }

  // x171 — PAIRWISE EMD over doc-length distributions: the CDF-
  // difference form in exact cross-multiplied integers over the dense
  // log2 bin spine (gaps carry constant CDF diff — they count). The
  // "how FAR did the mass move" drift metric TV (x94) can't see.
  val x171 = Q(
    "x171_emd_lengths",
    """WITH d AS (
      |  SELECT source AS s, length(bin(n_chars)) - 1 AS b
      |  FROM documents WHERE n_chars >= 1),
      |c AS (SELECT s, b, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
      |spine AS (SELECT unnest(range(0, 63)) AS b),
      |ks AS (SELECT DISTINCT s FROM c),
      |dense AS (
      |  SELECT ks.s, spine.b, coalesce(c.n, 0) AS n
      |  FROM ks CROSS JOIN spine LEFT JOIN c ON c.s = ks.s AND c.b = spine.b),
      |cum AS (
      |  SELECT s, b, SUM(n) OVER (PARTITION BY s ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM dense),
      |tot AS (SELECT s, max(cum) AS nt FROM cum GROUP BY 1)
      |SELECT a.s AS sa, b2.s AS sb, CAST(ta.nt AS BIGINT) AS n_a, CAST(tb.nt AS BIGINT) AS n_b,
      |       CAST(sum(abs(a.cum * tb.nt - b2.cum * ta.nt)) AS BIGINT) AS emd_x
      |FROM cum a JOIN cum b2 ON a.b = b2.b AND a.s < b2.s
      |JOIN tot ta ON ta.s = a.s
      |JOIN tot tb ON tb.s = b2.s
      |GROUP BY 1, 2, 3, 4
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Profile.log2Emd(Tables.documents(s, dir), col("source"), col("n_chars"))
      .orderBy("sa", "sb")
  }

  // x172 — DETERMINISTIC NEGATIVE SAMPLING: 8 ring negatives per doc
  // (step 347 over the id-sorted slice), minus anything that is
  // actually the anchor's exact or near dup at content-representative
  // granularity (a duplicate "negative" poisons a contrastive loss).
  // No RNG anywhere; the near-dup exclusion is x7's banded-LSH pair
  // set reused verbatim.
  val x172 = Q(
    "x172_negative_samples",
    s"""WITH sl AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
      |${x7Ctes.replace("FROM documents", "FROM sl")},
      |pr AS ($x7Select),
      |ids AS (SELECT doc_id FROM sl),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ids),
      |pos AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS p
      |        FROM ids),
      |js AS (SELECT CAST(unnest(range(1, 9)) AS BIGINT) AS j),
      |wanted AS (
      |  SELECT doc_id, j, (p + j * 347) % n AS np FROM pos CROSS JOIN js, nn),
      |byPos AS (SELECT p AS np, doc_id AS neg_id FROM pos),
      |cnd AS (
      |  SELECT w.doc_id, w.j, b2.neg_id
      |  FROM wanted w JOIN byPos b2 USING (np)
      |  WHERE b2.neg_id <> w.doc_id),
      |reps AS (SELECT md5(text) AS hh, min(doc_id) AS rep FROM sl GROUP BY 1),
      |dr AS (SELECT s2.doc_id, r.rep FROM sl s2 JOIN reps r ON md5(s2.text) = r.hh),
      |sym AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr)
      |SELECT c2.doc_id, c2.j, c2.neg_id
      |FROM cnd c2
      |JOIN dr da ON da.doc_id = c2.doc_id
      |JOIN dr db ON db.doc_id = c2.neg_id
      |LEFT JOIN sym ON sym.a = da.rep AND sym.b = db.rep
      |WHERE da.rep <> db.rep AND sym.a IS NULL
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Sampling.negativeSamples(
      Tables.documents(s, dir).where(col("doc_id") < 1000),
      col("doc_id"), col("text"), k = 8, step = 347L)
      .orderBy("doc_id", "j")
  }

  // x173 — MERKLE SNAPSHOT DIFF: snapshot B mutates every 97th doc,
  // drops every 101st and everything past 400, and adds relabeled
  // copies of every 251st under high ids — the diff localizes ALL of
  // it to 64-doc blocks (changed / only_a / only_b) comparing hashes,
  // never documents. Matching blocks are dropped: the output IS the
  // work list.
  val x173 = Q(
    "x173_merkle_diff",
    """WITH a AS (SELECT source AS s, doc_id, text FROM documents),
      |b AS (
      |  SELECT source AS s, doc_id,
      |         CASE WHEN doc_id % 97 = 3 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 101 <> 7 AND doc_id < 400
      |  UNION ALL
      |  SELECT source AS s, doc_id + 1000000, text
      |  FROM documents WHERE doc_id % 251 = 5),
      |ba AS (
      |  SELECT s, doc_id // 64 AS blk, CAST(count(*) AS BIGINT) AS n_docs_a,
      |         md5(string_agg(md5(text), '' ORDER BY doc_id)) AS bh_a
      |  FROM a GROUP BY 1, 2),
      |bb AS (
      |  SELECT s, doc_id // 64 AS blk, CAST(count(*) AS BIGINT) AS n_docs_b,
      |         md5(string_agg(md5(text), '' ORDER BY doc_id)) AS bh_b
      |  FROM b GROUP BY 1, 2),
      |j AS (
      |  SELECT coalesce(ba.s, bb.s) AS s, coalesce(ba.blk, bb.blk) AS blk,
      |         CASE WHEN bh_a IS NULL THEN 'only_b'
      |              WHEN bh_b IS NULL THEN 'only_a'
      |              WHEN bh_a <> bh_b THEN 'changed' END AS status,
      |         coalesce(n_docs_a, 0) AS n_docs_a, coalesce(n_docs_b, 0) AS n_docs_b
      |  FROM ba FULL OUTER JOIN bb ON ba.s = bb.s AND ba.blk = bb.blk)
      |SELECT s, blk, status, n_docs_a, n_docs_b
      |FROM j WHERE status IS NOT NULL
      |ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val a = docs.select(col("source"), col("doc_id"), col("text"))
    val b = docs
      .where(col("doc_id") % 101 =!= 7 && col("doc_id") < 400)
      .select(col("source"), col("doc_id"),
        when(col("doc_id") % 97 === 3, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.where(col("doc_id") % 251 === 5)
        .select(col("source"), (col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Curation.merkleDiff(a, b, col("source"), col("doc_id"), col("text"),
        blockSize = 64L)
      .orderBy("s", "blk", "status")
  }

  // x174 — CONSISTENT-HASH RING load profile: 8 shards × 16 vnodes on
  // the 60-bit ring, every orderkey owned by its clockwise successor
  // vnode (wrapping) — the minimal-movement sharding design, with the
  // per-shard load variance the vnode count controls made visible.
  // Successor = a native binary-search ring_successor expression over
  // the plan-build-time sorted ring (zero row amplification). ORACLE
  // FORM (round 15): the original keys × 128-vnode cross-join was the
  // gate's last sf1-INFEASIBLE oracle (192M intermediate rows at sf1;
  // 60 s at sf0.1); this ASOF-join form is VALUE-IDENTICAL — the
  // clockwise successor "smallest vh >= hk" is exactly ASOF's "largest
  // nvh <= -hk" on the negated ring, unmatched keys (hk beyond the max
  // vnode) wrap to the min-vh vnode via the LEFT join's coalesce, and
  // the tie premise (no two vnodes share a vh, which ASOF could break
  // arbitrarily but the original broke by min-shard) holds for the
  // FIXED deterministic 128-entry md5 ring (checked: 128 distinct vh).
  // Verified bit-identical at sf0.001/0.01/0.1; 60.1 s → 0.3 s at sf0.1.
  val x174 = Q(
    "x174_hash_ring",
    """WITH ring AS (
      |  SELECT shard,
      |         ('0x' || substring(md5(CAST(shard AS VARCHAR) || ':' || CAST(replica AS VARCHAR)), 1, 15))::BIGINT AS vh
      |  FROM (SELECT unnest(range(0, 8)) AS shard) s
      |  CROSS JOIN (SELECT unnest(range(0, 16)) AS replica) r),
      |wrap AS (SELECT shard AS s0 FROM ring ORDER BY vh, shard LIMIT 1),
      |k AS (
      |  SELECT o_orderkey AS k0,
      |         ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hk
      |  FROM orders),
      |asg AS (
      |  SELECT k.k0, coalesce(r.shard, (SELECT s0 FROM wrap)) AS shard
      |  FROM k ASOF LEFT JOIN (SELECT shard, -vh AS nvh FROM ring) r ON -k.hk >= r.nvh),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM asg)
      |SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_keys,
      |       CAST(count(*) * 1000000 // n_total AS BIGINT) AS load_ppm
      |FROM asg, t
      |GROUP BY shard, n_total
      |ORDER BY shard""".stripMargin) { (s, dir) =>
    Sampling.hashRingLoad(Tables.orders(s, dir), col("o_orderkey"),
        shards = 8, vnodes = 16)
      .orderBy("shard")
  }

  // x175 — LINK PREDICTION, FULL CORPUS (round-11 promotion of x148):
  // the same resource-allocation scoring with NO doc_id slice — what
  // bounds the wedge work is STRUCTURE, not a fixture: shingle df cap
  // 16 (hot shingles never mint edges) and mid-node degree cap 64
  // (hub-removal: scores are RA over common neighbors of degree ≤ 64,
  // wedge work ≤ N·64² by construction — a hub contributed ≤ 1e6/64
  // per wedge anyway). x148 keeps the 1500-doc slice as the cheap
  // regression pin; this is the contract a 100 TB corpus would run.
  val x175 = Q(
    "x175_link_pred_full",
    """WITH t AS (
      |  SELECT doc_id, trim(text) AS tt, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE [tt] END AS sh
      |  FROM t),
      |u AS (SELECT doc_id, unnest(sh) AS sh1 FROM s),
      |hh AS MATERIALIZED (SELECT doc_id, ('0x' || substring(md5(sh1), 1, 15))::BIGINT AS h FROM u),
      |keep AS (SELECT h FROM hh GROUP BY h HAVING COUNT(*) <= 16),
      |occ AS MATERIALIZED (SELECT hh.doc_id, hh.h FROM hh JOIN keep USING (h)),
      |e0 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
      |       FROM occ a JOIN occ b ON a.h = b.h AND a.doc_id < b.doc_id),
      |e AS MATERIALIZED (SELECT s AS src, d AS dst FROM e0 UNION ALL SELECT d, s FROM e0),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |mid AS MATERIALIZED (
      |  SELECT e.src AS z, e.dst AS leaf, 1000000 // d.deg AS w
      |  FROM e JOIN deg d ON d.src = e.src WHERE d.deg <= 64),
      |p AS (
      |  SELECT ea.leaf AS a, eb.leaf AS b, ea.w
      |  FROM mid ea JOIN mid eb ON ea.z = eb.z AND ea.leaf < eb.leaf),
      |g AS (
      |  SELECT a, b, CAST(count(*) AS BIGINT) AS cn, CAST(sum(w) AS BIGINT) AS ra_e6
      |  FROM p GROUP BY 1, 2),
      |ng AS (
      |  SELECT g.* FROM g LEFT JOIN e0 ON g.a = e0.s AND g.b = e0.d
      |  WHERE e0.s IS NULL)
      |SELECT a, b, cn, ra_e6 FROM ng
      |ORDER BY ra_e6 DESC, cn DESC, a, b
      |LIMIT 50""".stripMargin) { (s, dir) =>
    Graph.linkPrediction(
      Graph.coShingleEdges(Tables.documents(s, dir),
        col("doc_id"), col("text"), n = 3, maxShingleDf = 16L),
      k = 50, maxMidDegree = 64L)
  }

  // x176 — SCD TYPE-2 INTERVALS: per user, runs of equal consecutive
  // event_type collapse into versioned [valid_from, valid_to) rows —
  // the dimension-history build (x15's as-of join is its read side).
  // Three per-key windows on one hash(user) exchange, nothing global.
  val x176 = Q(
    "x176_scd2_intervals",
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |v AS (SELECT user_id, ts, event_id, event_type FROM e
      |      WHERE prev IS NULL OR prev <> event_type),
      |w AS (
      |  SELECT user_id AS key,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
      |         event_type AS value, ts AS valid_from,
      |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |  FROM v)
      |SELECT key, version, value, valid_from, valid_to FROM w
      |ORDER BY key, version""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.scd2Intervals(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .orderBy("key", "version")
  }

  // x177 — CONTENT-DEFINED CHUNK dedup accounting: word-granularity
  // Rabin-style chunking (boundary word ≡ md5Hash60 mod 64 == 0, so an
  // edit shifts ONE chunk and later boundaries re-sync), then per-source
  // chunk-level dup rate — the storage-dedup lens on the corpus that
  // byte-identical doc dedup (x1) can't see. Boundary detection is
  // scan-side; assembly is one per-doc window + group-local fold.
  val x177 = Q(
    "x177_cdc_chunks",
    """WITH t AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, source,
      |         unnest(list_transform(range(1, len(w) + 1),
      |                i -> {'pos': i - 1, 'word': w[i]})) AS pw
      |  FROM t),
      |e AS (SELECT doc_id, source, pw.pos AS pos, pw.word AS word FROM u),
      |b AS (
      |  SELECT *, CASE WHEN pos > 0 AND
      |                  ('0x' || substring(md5(word), 1, 15))::BIGINT % 64 = 0
      |                 THEN 1 ELSE 0 END AS opens
      |  FROM e),
      |c AS (
      |  SELECT *, SUM(opens) OVER (PARTITION BY doc_id ORDER BY pos
      |              ROWS UNBOUNDED PRECEDING) AS chunk_idx
      |  FROM b),
      |h AS (
      |  SELECT doc_id, source, chunk_idx,
      |         CAST(COUNT(*) AS BIGINT) AS n_words,
      |         md5(string_agg(word, ' ' ORDER BY pos)) AS ch
      |  FROM c GROUP BY 1, 2, 3)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |       CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_distinct_chunks,
      |       CAST((COUNT(*) - COUNT(DISTINCT ch)) * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm,
      |       CAST(SUM(n_words) * 100 // COUNT(*) AS BIGINT) AS mean_words_e2
      |FROM h GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.ext.Dedup.cdcChunks(docs, col("doc_id"), col("text"), mask = 64)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_hash")).as("n_distinct_chunks"),
        expr("(count(1) - count(DISTINCT chunk_hash)) * 1000000L DIV count(1)")
          .as("dup_ppm"),
        expr("sum(n_words) * 100L DIV count(1)").as("mean_words_e2"))
      .orderBy("source")
  }

  // x178 — PARTITION-GAP audit: per user, expected daily partitions
  // (first..last active day) vs present ones, plus the first hole —
  // the backfill cursor. Day explode is per key and calendar-bounded.
  val x178 = Q(
    "x178_partition_gaps",
    """WITH obs AS (
      |  SELECT user_id AS k, CAST(ts AS DATE) AS day FROM events GROUP BY 1, 2),
      |b AS (
      |  SELECT k, min(day) AS d0, max(day) AS d1,
      |         CAST(COUNT(*) AS BIGINT) AS present_days
      |  FROM obs GROUP BY 1),
      |ex AS (
      |  SELECT k, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM b),
      |miss AS (
      |  SELECT e.k, min(e.day) AS first_missing
      |  FROM ex e LEFT JOIN obs o ON o.k = e.k AND o.day = e.day
      |  WHERE o.k IS NULL GROUP BY 1)
      |SELECT b.k AS key,
      |       CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS span_days,
      |       present_days,
      |       CAST(date_diff('day', d0, d1) + 1 - present_days AS BIGINT) AS missing_days,
      |       m.first_missing
      |FROM b LEFT JOIN miss m ON m.k = b.k
      |ORDER BY key""".stripMargin) { (s, dir) =>
    graft.ext.Layout.partitionGaps(Tables.events(s, dir),
        col("user_id"), col("ts"))
      .orderBy("key")
  }

  // x179 — BLOOM-PRUNED SEMI-JOIN audit: the 512×62-bit filter over
  // BUILDING-segment customer keys probes every order scan-side through
  // the codegen'd bloom_contains expression (collected at plan build,
  // zero joins for the prune decision — the x174 embed-don't-join
  // pattern); the oracle runs the declarative word-join form. Exact
  // false-positive accounting — the number you size words/d with
  // before wiring the same prune in front of a 100 TB shuffle.
  val x179 = Q(
    "x179_bloom_semijoin",
    s"""WITH seeds(i, a, b, c) AS (VALUES $bloomSeedRows),
      |dk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
      |       FROM customer WHERE c_mktsegment = 'BUILDING'),
      |dh AS (SELECT ('0x' || substring(md5(k), 1, 15))::BIGINT AS h FROM dk),
      |bs AS (
      |  SELECT ((a * (h & 1073741823) + b * (h >> 30) + c) % 1000000007) % 31744 AS bit
      |  FROM dh CROSS JOIN seeds),
      |occ AS (
      |  SELECT bit // 62 AS word_idx,
      |         bit_or(CAST(1 AS BIGINT) << CAST(bit % 62 AS INT)) AS bits
      |  FROM bs GROUP BY 1),
      |pk AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders),
      |pb AS (
      |  SELECT k,
      |         ((a * (h & 1073741823) + b * (h >> 30) + c) % 1000000007) % 31744 AS bit
      |  FROM (SELECT k, ('0x' || substring(md5(k), 1, 15))::BIGINT AS h FROM pk)
      |  CROSS JOIN seeds),
      |passes AS (
      |  SELECT pb.k,
      |         (COUNT(*) = SUM(CASE WHEN (coalesce(occ.bits, 0) >> CAST(pb.bit % 62 AS INT)) & 1 = 1
      |                              THEN 1 ELSE 0 END)) AS pass
      |  FROM pb LEFT JOIN occ ON occ.word_idx = pb.bit // 62
      |  GROUP BY pb.k),
      |t AS (
      |  SELECT f.k, p.pass, CASE WHEN dk.k IS NOT NULL THEN 1 ELSE 0 END AS m
      |  FROM (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders) f
      |  JOIN passes p USING (k) LEFT JOIN dk ON dk.k = f.k)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_fact,
      |       CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |       CAST(SUM(m) AS BIGINT) AS n_match,
      |       CAST(SUM(CASE WHEN pass AND m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
      |       CAST(CASE WHEN COUNT(*) - SUM(m) = 0 THEN 0
      |            ELSE SUM(CASE WHEN pass AND m = 0 THEN 1 ELSE 0 END) * 1000000
      |                 // (COUNT(*) - SUM(m)) END AS BIGINT) AS fp_ppm
      |FROM t""".stripMargin) { (s, dir) =>
    Sketches.bloomPruneAudit(
      Tables.orders(s, dir), col("o_custkey"),
      Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING"),
      col("c_custkey"), words = 512, d = 3)
  }

  // x180 — KMV DISTINCT SKETCH: distinct users per event type via the
  // k-minimum-values order-statistics sketch (k=64), audited against
  // the exact count. The typed KMinValuesAgg dedups INSIDE its O(k)
  // buffer — one exchange, ≤ k longs per (key × partition) on the wire,
  // map-side combinable and streaming-mergeable (merge law pinned in
  // StreamingSketchSpec). Estimator (k-1)·2^60/h_(k) rides DECIMAL(38),
  // so the ESTIMATE, not just the sketch, is hash-provable; the oracle
  // recomputes it from the same md5 hashes as plain order statistics.
  val x180 = Q(
    "x180_kmv_distinct",
    """WITH h AS (
      |  SELECT DISTINCT event_type AS key,
      |         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM events),
      |r AS (
      |  SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS rn
      |  FROM h),
      |s AS (
      |  SELECT key,
      |         CAST(COUNT(*) AS BIGINT) AS n_exact,
      |         CAST(SUM(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_sketch,
      |         CAST(MAX(CASE WHEN rn <= 64 THEN h END) AS BIGINT) AS kth_min
      |  FROM r GROUP BY key),
      |e AS (
      |  SELECT *, CAST(CASE WHEN n_sketch < 64 THEN n_sketch
      |                 ELSE (63::HUGEINT * 1152921504606846976) // kth_min
      |            END AS BIGINT) AS est_distinct
      |  FROM s)
      |SELECT key, n_exact, n_sketch, kth_min, est_distinct,
      |       CAST(abs(est_distinct - n_exact)::HUGEINT * 1000000 // n_exact AS BIGINT) AS err_ppm
      |FROM e ORDER BY key""".stripMargin) { (s, dir) =>
    Sketches.kmvDistinct(Tables.events(s, dir), col("event_type"),
        col("user_id"), k = 64)
      .orderBy("key")
  }

  // x181 — RANK (SPEARMAN) AUTOCORRELATION of each order priority's
  // daily revenue at lags 1 and 7 — exact-rational monotone-association
  // (Pearson needs a square root; Spearman's 1e6 − 6e6·Σd²/(n(n²−1))
  // stays in integers, tie-broken by day). Position lag on the observed
  // sequence; the daily rollup is the only data-scale exchange — after
  // it everything is day-cardinality, O(days) per key at ANY corpus
  // size (days are calendar-bounded, rows are not).
  val x181 = Q(
    "x181_rank_autocorr",
    """WITH d AS (
      |  SELECT o_orderpriority AS key, CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM orders GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY day) AS rn
      |  FROM d),
      |p AS (
      |  SELECT a.key, CAST(l.lag AS BIGINT) AS lag,
      |         a.day AS day_a, a.v AS va, b.day AS day_b, b.v AS vb
      |  FROM r a JOIN (VALUES (1), (7)) l(lag) ON true
      |       JOIN r b ON b.key = a.key AND b.rn = a.rn + l.lag),
      |k AS (
      |  SELECT key, lag,
      |         CAST(row_number() OVER (PARTITION BY key, lag ORDER BY va, day_a) AS BIGINT) AS rx,
      |         CAST(row_number() OVER (PARTITION BY key, lag ORDER BY vb, day_b) AS BIGINT) AS ry
      |  FROM p),
      |s AS (
      |  SELECT key, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |         CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
      |  FROM k GROUP BY 1, 2)
      |SELECT key, lag, n_pairs, sum_d2,
      |       CAST(1000000 - 6000000::HUGEINT * sum_d2
      |            // (n_pairs::HUGEINT * (n_pairs * n_pairs - 1)) AS BIGINT) AS spearman_e6
      |FROM s WHERE n_pairs >= 2
      |ORDER BY key, lag""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.rankAutocorr(Tables.orders(s, dir),
        col("o_orderpriority"), to_date(col("o_orderdate")),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"), lags = Seq(1, 7))
      .orderBy("key", "lag")
  }

  // x182 — READABILITY SCORING per source: Flesch-reading-ease proxy in
  // exact e3 fixed point (206835 − 1015·w/s − 84600·syl/w, integer DIV
  // both engines — truncation toward zero verified identical). Syllables
  // = vowel runs + vowel-less-word floor, counted portably as the
  // length-difference trick (runs→"~" vs runs→""). Pure scan-side math;
  // the per-source rollup is the only exchange.
  val x182 = Q(
    "x182_readability",
    """WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS w,
      |         greatest(CAST(1 AS BIGINT),
      |                  CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)) AS s,
      |         CAST(length(regexp_replace(lower(text), '[aeiou]+', '~', 'g'))
      |              - length(regexp_replace(lower(text), '[aeiou]+', '', 'g')) AS BIGINT)
      |         + CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                w -> NOT regexp_matches(w, '[aeiou]'))) AS BIGINT) AS syl
      |  FROM documents),
      |f AS (
      |  SELECT source, w, s, syl,
      |         206835 - 1015 * w // s - 84600 * syl // w AS fre_e3
      |  FROM t WHERE w > 0)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(fre_e3) // COUNT(*) AS BIGINT) AS mean_fre_e3,
      |       CAST(SUM(CASE WHEN fre_e3 >= 70000 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
      |       CAST(SUM(CASE WHEN fre_e3 < 30000 THEN 1 ELSE 0 END) AS BIGINT) AS n_hard,
      |       CAST(1000 * SUM(syl) // SUM(w) AS BIGINT) AS syl_per_word_e3
      |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.readability(Tables.documents(s, dir), col("doc_id"),
        col("text"), passthrough = Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(fre_e3) DIV count(1)").as("mean_fre_e3"),
        sum(when(col("fre_e3") >= 70000, 1L).otherwise(0L)).as("n_easy"),
        sum(when(col("fre_e3") < 30000, 1L).otherwise(0L)).as("n_hard"),
        expr("1000 * sum(n_syllables) DIV sum(n_words)").as("syl_per_word_e3"))
      .orderBy("source")
  }

  // x183 — DATA-CONTRACT AUDIT over lineitem: Deequ-style constraint
  // suite, one row per constraint with exact violation counts. Five
  // row-level checks fold in ONE scan pass (conditional sums, NULL
  // fails closed via coalesce(pred, false)); the PK-uniqueness check is
  // the one exchange, carrying only the 2-column key. The gate you run
  // before consuming a new data drop.
  val x183 = Q(
    "x183_contract_audit",
    """WITH r AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |         CAST(SUM(CASE WHEN coalesce(l_shipdate IS NOT NULL, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS v0,
      |         CAST(SUM(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS v1,
      |         CAST(SUM(CASE WHEN coalesce(l_extendedprice > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS v2,
      |         CAST(SUM(CASE WHEN coalesce(l_returnflag IN ('A', 'N', 'R'), FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS v3,
      |         CAST(SUM(CASE WHEN coalesce(l_discount BETWEEN 0 AND 0.1, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS v4
      |  FROM lineitem),
      |u AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows
      |  FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)),
      |s AS (
      |  SELECT 'shipdate_not_null' AS check_name, n_rows, v0 AS n_violations FROM r
      |  UNION ALL SELECT 'qty_range', n_rows, v1 FROM r
      |  UNION ALL SELECT 'price_positive', n_rows, v2 FROM r
      |  UNION ALL SELECT 'returnflag_domain', n_rows, v3 FROM r
      |  UNION ALL SELECT 'discount_range', n_rows, v4 FROM r
      |  UNION ALL SELECT 'pk_unique', n_rows, n_rows - n_keys FROM u)
      |SELECT check_name, n_rows, n_violations,
      |       CAST(n_violations * 1000000 // n_rows AS BIGINT) AS viol_ppm,
      |       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
      |FROM s ORDER BY check_name""".stripMargin) { (s, dir) =>
    Curation.contractAudit(Tables.lineitem(s, dir),
        Seq(
          "shipdate_not_null" -> col("l_shipdate").isNotNull,
          "qty_range" -> col("l_quantity").between(1, 50),
          "price_positive" -> (col("l_extendedprice") > 0),
          "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
          "discount_range" -> col("l_discount").between(0, 0.1)),
        "pk_unique", Seq(col("l_orderkey"), col("l_linenumber")))
      .orderBy("check_name")
  }

  // x184 — CANDIDATE-KEY DISCOVERY over orders: per column, exact
  // distinct/non-null counts → uniqueness ppm + is-key verdict. One
  // scan via the multi-count-distinct Expand (×6 pre-partial-agg, the
  // documented trade vs 6 scans of a 100 TB fact); the oracle pays six
  // COUNT(DISTINCT)s. The audit you run before trusting a join key.
  val x184 = Q(
    "x184_key_candidates",
    """WITH a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |         CAST(COUNT(o_orderkey) AS BIGINT) AS nn0, CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd0,
      |         CAST(COUNT(o_custkey) AS BIGINT) AS nn1, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd1,
      |         CAST(COUNT(o_orderstatus) AS BIGINT) AS nn2, CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd2,
      |         CAST(COUNT(o_totalprice) AS BIGINT) AS nn3, CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd3,
      |         CAST(COUNT(o_orderdate) AS BIGINT) AS nn4, CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS nd4,
      |         CAST(COUNT(o_orderpriority) AS BIGINT) AS nn5, CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd5
      |  FROM orders),
      |s AS (
      |  SELECT 'o_orderkey' AS column_name, n_rows, nn0 AS n_nonnull, nd0 AS n_distinct FROM a
      |  UNION ALL SELECT 'o_custkey', n_rows, nn1, nd1 FROM a
      |  UNION ALL SELECT 'o_orderstatus', n_rows, nn2, nd2 FROM a
      |  UNION ALL SELECT 'o_totalprice', n_rows, nn3, nd3 FROM a
      |  UNION ALL SELECT 'o_orderdate', n_rows, nn4, nd4 FROM a
      |  UNION ALL SELECT 'o_orderpriority', n_rows, nn5, nd5 FROM a)
      |SELECT column_name, n_rows, n_nonnull, n_distinct,
      |       CAST(n_distinct * 1000000 // n_rows AS BIGINT) AS uniq_ppm,
      |       CAST(CASE WHEN n_distinct = n_rows THEN 1 ELSE 0 END AS BIGINT) AS is_key
      |FROM s ORDER BY column_name""".stripMargin) { (s, dir) =>
    Profile.keyCandidates(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
      .orderBy("column_name")
  }

  // x185 — FREQUENT TRIPLES (apriori level 3): session item sets →
  // minSup-pruned items → scan-side cubic expansion over the PRUNED
  // sets only (the apriori property: an infrequent item cannot appear
  // in a frequent triple) → DECIMAL(38) three-way independence lift.
  // The oracle pays the same pruning declaratively.
  val x185 = Q(
    "x185_basket_triples",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |m AS (
      |  SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |  FROM e),
      |s AS (
      |  SELECT *, SUM(CASE WHEN prev IS NULL OR tus - prev > 14400000000
      |                     THEN 1 ELSE 0 END)
      |         OVER (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM m),
      |sess AS (
      |  SELECT user_id, session_seq, list_sort(list_distinct(list(event_type))) AS items
      |  FROM s GROUP BY user_id, session_seq),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sess FROM sess),
      |sing AS (
      |  SELECT item, CAST(count(*) AS BIGINT) AS sup FROM (
      |    SELECT unnest(items) AS item FROM sess) GROUP BY 1),
      |freq AS (SELECT item FROM sing WHERE sup >= 10),
      |kept AS (
      |  SELECT user_id, session_seq, list_sort(list(item)) AS items
      |  FROM (SELECT user_id, session_seq, unnest(items) AS item FROM sess) u
      |  JOIN freq USING (item)
      |  GROUP BY user_id, session_seq),
      |tr AS (
      |  SELECT unnest(CASE WHEN len(items) >= 3 THEN
      |           flatten(flatten(list_transform(range(1, len(items) - 1), i ->
      |             list_transform(range(i + 1, len(items)), j ->
      |               list_transform(range(j + 1, len(items) + 1), k ->
      |                 items[i] || '|' || items[j] || '|' || items[k])))))
      |         ELSE CAST([] AS VARCHAR[]) END) AS t
      |  FROM kept),
      |ts AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS sup_abc FROM tr GROUP BY 1
      |  HAVING count(*) >= 10),
      |f AS (
      |  SELECT string_split(t, '|')[1] AS item_a, string_split(t, '|')[2] AS item_b,
      |         string_split(t, '|')[3] AS item_c, sup_abc FROM ts)
      |SELECT item_a, item_b, item_c, sup_abc,
      |       sa.sup AS sup_a, sb.sup AS sup_b, sc.sup AS sup_c,
      |       CAST(CAST(sup_abc AS HUGEINT) * n_sess * n_sess * 1000000
      |            // (sa.sup * sb.sup * sc.sup) AS BIGINT) AS lift_e6
      |FROM f JOIN sing sa ON f.item_a = sa.item
      |       JOIN sing sb ON f.item_b = sb.item
      |       JOIN sing sc ON f.item_c = sc.item, n
      |ORDER BY item_a, item_b, item_c""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.basketTriples(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        gapMicros = 14400000000L, minSup = 10L)
      .orderBy("item_a", "item_b", "item_c")
  }

  // x186 — DETERMINISTIC EPOCH SHUFFLE audit: 3 epochs × 8 shards of
  // the corpus by h = md5Hash60(epoch ':' doc_id) — reproducible
  // per-epoch permutations with zero RNG and zero shuffle-file state.
  // The Σh mod 2^60 checksum proves the ASSIGNMENT against the oracle,
  // not just the counts. Combinable aggs only; no window, no sort.
  val x186 = Q(
    "x186_epoch_shuffle",
    """WITH ids AS (SELECT doc_id AS id FROM documents),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM ids),
      |e AS (SELECT CAST(unnest(range(0, 3)) AS BIGINT) AS epoch),
      |h AS (
      |  SELECT epoch,
      |         ('0x' || substring(md5(CAST(epoch AS VARCHAR) || ':' || CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM ids CROSS JOIN e),
      |s AS (SELECT epoch, h, h % 8 AS shard FROM h)
      |SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(MIN(h) AS BIGINT) AS min_h,
      |       CAST(SUM(h::HUGEINT) % 1152921504606846976 AS BIGINT) AS checksum,
      |       CAST(COUNT(*) * 1000000 // n_total AS BIGINT) AS load_ppm
      |FROM s, n GROUP BY epoch, shard, n_total
      |ORDER BY epoch, shard""".stripMargin) { (s, dir) =>
    Sampling.epochShuffle(Tables.documents(s, dir), col("doc_id"),
        epochs = 3, shards = 8)
      .orderBy("epoch", "shard")
  }

  // x187 — BUCKETED KS DRIFT per source vs the REST of the corpus on
  // doc length: the max-deviation companion to x171's EMD over the
  // same 63-bin log2 CDFs (spike vs drift). Exact integer
  // cross-multiplied CDFs in DECIMAL(38); REST = global − own
  // cumulative from the SAME bin table, no second corpus pass.
  val x187 = Q(
    "x187_ks_drift",
    """WITH d AS (
      |  SELECT source AS s, length(bin(n_chars)) - 1 AS b
      |  FROM documents WHERE n_chars >= 1),
      |c AS (SELECT s, b, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
      |spine AS (SELECT unnest(range(0, 63)) AS b),
      |ks AS (SELECT DISTINCT s FROM c),
      |dense AS (
      |  SELECT ks.s, spine.b, coalesce(c.n, 0) AS n
      |  FROM ks CROSS JOIN spine LEFT JOIN c ON c.s = ks.s AND c.b = spine.b),
      |cum AS (
      |  SELECT s, b, SUM(n) OVER (PARTITION BY s ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM dense),
      |g AS (SELECT b, SUM(cum) AS gcum FROM cum GROUP BY 1),
      |tot AS (SELECT s, CAST(max(cum) AS BIGINT) AS n_s FROM cum GROUP BY 1),
      |nt AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM tot),
      |dx AS (
      |  SELECT cum.s, tot.n_s, n_tot - tot.n_s AS n_rest,
      |         abs(cum.cum::HUGEINT * (n_tot - tot.n_s)
      |             - (g.gcum - cum.cum)::HUGEINT * tot.n_s) AS dx,
      |         cum.b
      |  FROM cum JOIN g USING (b) JOIN tot ON tot.s = cum.s, nt
      |  WHERE n_tot > tot.n_s),
      |mx AS (
      |  SELECT s, n_s, n_rest, max(dx) AS mdx FROM dx GROUP BY 1, 2, 3)
      |SELECT mx.s AS s, mx.n_s, mx.n_rest,
      |       CAST(mdx * 1000000 // (mx.n_s::HUGEINT * mx.n_rest) AS BIGINT) AS ks_ppm,
      |       CAST(min(dx.b) AS BIGINT) AS ks_bin
      |FROM mx JOIN dx ON dx.s = mx.s AND dx.dx = mx.mdx
      |GROUP BY 1, 2, 3, mdx
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    Profile.log2Ks(Tables.documents(s, dir), col("source"), col("n_chars"))
      .orderBy("s")
  }

  // x188 — KMV SKETCH ALGEBRA: join-cardinality estimate (orders keys
  // vs customer keys) from two O(k=256) sketches — union = k smallest
  // of the operand buffers (merge law), overlap by inclusion–exclusion;
  // exact legs alongside for the audit. The oracle recomputes all three
  // estimators as order statistics on the same md5 hashes.
  val x188 = Q(
    "x188_kmv_overlap",
    """WITH ka AS (SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h FROM orders),
      |kb AS (SELECT DISTINCT ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h FROM customer),
      |ra AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ka),
      |rb AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM kb),
      |ru AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
      |       FROM (SELECT h FROM ka UNION SELECT h FROM kb)),
      |ea AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_x,
      |              CAST(SUM(CASE WHEN rn <= 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_sk,
      |              CAST(MAX(CASE WHEN rn <= 256 THEN h END) AS BIGINT) AS kth FROM ra),
      |eb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_x,
      |              CAST(SUM(CASE WHEN rn <= 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_sk,
      |              CAST(MAX(CASE WHEN rn <= 256 THEN h END) AS BIGINT) AS kth FROM rb),
      |eu AS (SELECT CAST(SUM(CASE WHEN rn <= 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_sk,
      |              CAST(MAX(CASE WHEN rn <= 256 THEN h END) AS BIGINT) AS kth FROM ru),
      |ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap FROM ka JOIN kb USING (h)),
      |est AS (
      |  SELECT ea.n_x AS n_a_exact, eb.n_x AS n_b_exact, ov.n_overlap AS n_overlap_exact,
      |         CAST(CASE WHEN ea.n_sk < 256 THEN ea.n_sk
      |              ELSE (255::HUGEINT * 1152921504606846976) // ea.kth END AS BIGINT) AS est_a,
      |         CAST(CASE WHEN eb.n_sk < 256 THEN eb.n_sk
      |              ELSE (255::HUGEINT * 1152921504606846976) // eb.kth END AS BIGINT) AS est_b,
      |         CAST(CASE WHEN eu.n_sk < 256 THEN eu.n_sk
      |              ELSE (255::HUGEINT * 1152921504606846976) // eu.kth END AS BIGINT) AS est_union
      |  FROM ea, eb, eu, ov)
      |SELECT n_a_exact, n_b_exact, n_overlap_exact, est_a, est_b, est_union,
      |       greatest(0, est_a + est_b - est_union) AS overlap_est,
      |       CAST(abs(greatest(0, est_a + est_b - est_union) - n_overlap_exact)::HUGEINT
      |            * 1000000 // greatest(1, n_overlap_exact) AS BIGINT) AS err_ppm
      |FROM est""".stripMargin) { (s, dir) =>
    Sketches.kmvOverlap(Tables.orders(s, dir), col("o_custkey"),
      Tables.customer(s, dir), col("c_custkey"), k = 256)
  }

  // x189 — GROUP-AWARE K-FOLD: every doc folds with its near-dup
  // cluster representative (x7 LSH pairs → x39 CC → md5(rep) mod 5), so
  // near-duplicates never straddle a CV boundary; the n_cross_pairs
  // column is the mechanical proof (zero by construction).
  val x189 = Q(
    "x189_grouped_kfold",
    s"""WITH RECURSIVE $x7Ctes,
      |pr AS MATERIALIZED ($x7Select),
      |edges AS (SELECT a AS u, b AS v FROM pr UNION ALL SELECT b, a FROM pr),
      |reach(id, label) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.id),
      |cc AS (SELECT id AS doc_id, min(label) AS cluster FROM reach GROUP BY id),
      |cg AS MATERIALIZED (SELECT md5(text) AS ch, min(doc_id) AS crep FROM documents GROUP BY 1),
      |base AS (
      |  SELECT d.doc_id, coalesce(cc.cluster, cg.crep) AS rep
      |  FROM documents d JOIN cg ON md5(d.text) = cg.ch
      |  LEFT JOIN cc ON cc.doc_id = cg.crep),
      |wf AS MATERIALIZED (
      |  SELECT doc_id, rep,
      |         ('0x' || substring(md5(CAST(rep AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold
      |  FROM base),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM wf),
      |pf AS (
      |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters
      |  FROM wf GROUP BY fold),
      |cr AS (
      |  SELECT wa.fold AS fold, CAST(COUNT(*) AS BIGINT) AS n_cross_pairs
      |  FROM pr JOIN wf wa ON wa.doc_id = pr.a JOIN wf wb ON wb.doc_id = pr.b
      |  WHERE wa.fold <> wb.fold GROUP BY 1)
      |SELECT pf.fold, pf.n_docs, pf.n_clusters,
      |       CAST(pf.n_docs * 1000000 // n_total AS BIGINT) AS load_ppm,
      |       coalesce(cr.n_cross_pairs, CAST(0 AS BIGINT)) AS n_cross_pairs
      |FROM pf LEFT JOIN cr ON cr.fold = pf.fold, n
      |ORDER BY pf.fold""".stripMargin) { (s, dir) =>
    Sampling.groupedKFold(Tables.documents(s, dir), col("doc_id"),
        col("text"), kf = 5)
      .orderBy("fold")
  }

  // x190 — ROLLING Z-SCORE anomaly per order priority's daily revenue:
  // flag day t when (n·x − s)² > 9·(n·ss − s²) over the trailing
  // 28-day frame (ends at 1 PRECEDING — a day never judges itself) —
  // the exact-integer control chart; num/den emitted as strings so the
  // margin is auditable without floats.
  val x190 = Q(
    "x190_rolling_zscore",
    """WITH d AS (
      |  SELECT o_orderpriority AS key, CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
      |  FROM orders GROUP BY 1, 2),
      |w AS (
      |  SELECT key, day, v,
      |         CAST(COUNT(*) OVER tw AS BIGINT) AS n_win,
      |         CAST(SUM(v) OVER tw AS BIGINT) AS s,
      |         SUM(v::HUGEINT * v) OVER tw AS ss
      |  FROM d
      |  WINDOW tw AS (PARTITION BY key ORDER BY day
      |                ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
      |f AS (
      |  SELECT key, day, v, n_win,
      |         (n_win::HUGEINT * v - s) * (n_win::HUGEINT * v - s) AS z2_num,
      |         n_win::HUGEINT * ss - s::HUGEINT * s AS z2_den
      |  FROM w WHERE n_win >= 8)
      |SELECT key, day, v, n_win,
      |       CAST(z2_num AS VARCHAR) AS z2_num, CAST(z2_den AS VARCHAR) AS z2_den
      |FROM f WHERE z2_num > 9 * z2_den
      |ORDER BY key, day""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.rollingZscore(Tables.orders(s, dir),
        col("o_orderpriority"), to_date(col("o_orderdate")),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        win = 28, c = 3, minN = 8)
      .orderBy("key", "day")
  }

  // x191 — HALF-LIFE-DECAYED LEADERBOARD: event types scored by
  // Σ 2^(30 − age_days DIV 7) relative to the data's max day — exact
  // power-of-two decay (float exp(−λt) is hash-unprovable), 30-epoch
  // horizon caps the weight and zeroes the ancient tail. One combinable
  // groupBy + top-k; the reference date is a 1-row broadcast.
  val x191 = Q(
    "x191_decayed_topk",
    """WITH r AS (SELECT CAST(MAX(ts) AS DATE) AS ref_day FROM events),
      |w AS (
      |  SELECT event_type AS item,
      |         CASE WHEN date_diff('day', CAST(ts AS DATE), ref_day) // 7 <= 30
      |              THEN CAST(1 AS BIGINT) << CAST(30 - date_diff('day', CAST(ts AS DATE), ref_day) // 7 AS INT)
      |              ELSE CAST(0 AS BIGINT) END AS w
      |  FROM events, r)
      |SELECT item, CAST(SUM(w) AS BIGINT) AS score,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_live
      |FROM w GROUP BY item
      |ORDER BY score DESC, item
      |LIMIT 10""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.decayedTopK(Tables.events(s, dir),
      col("event_type"), col("ts"), halfLifeDays = 7, k = 10)
  }

  // x192 — L-DIVERSITY governance audit (x120's sibling): each
  // (lang, len-bucket) quasi-identifier class scored by distinct
  // sensitive `source` values, modal-source concentration in ppm, and
  // an at-risk flag under l=3 — the "large but homogeneous class"
  // leak k-anonymity misses. Two stacked combinable groupBys; the only
  // data-scale exchange carries occupied (qi, sensitive) cells.
  val x192 = Q(
    "x192_l_diversity",
    """WITH cells AS (
      |  SELECT lang, CAST(length(text) // 200 AS BIGINT) AS len_bucket,
      |         source AS sv, CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT lang, len_bucket,
      |       CAST(sum(cnt) AS BIGINT) AS n,
      |       CAST(count(*) AS BIGINT) AS l_distinct,
      |       CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT) AS max_share_ppm,
      |       CAST(CASE WHEN count(*) < 3 THEN 1 ELSE 0 END AS INT) AS at_risk
      |FROM cells GROUP BY 1, 2
      |ORDER BY lang, len_bucket""".stripMargin) { (s, dir) =>
    Profile.lDiversity(Tables.documents(s, dir),
      Seq(("lang", col("lang")),
        ("len_bucket", expr("CAST(length(text) DIV 200 AS BIGINT)"))),
      col("source"), l = 3)
      .orderBy("lang", "len_bucket")
  }

  // x193 — LETTERBOX RESIZE GEOMETRY for the media table: the
  // aspect-preserving scale/pad plan onto a 224×224 canvas in exact e6
  // fixed point — the planning half of image preprocessing (pixels stay
  // behind the FakeDecoder seam). Pure scan-side arithmetic: zero
  // joins, zero exchanges besides the output sort.
  val x193 = Q(
    "x193_resize_plan",
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS kind,
      |         encode(text) AS payload
      |  FROM documents),
      |g AS (
      |  SELECT media_id, kind,
      |         CAST(1 + octet_length(payload) % 640 AS BIGINT) AS width,
      |         CAST(1 + octet_length(payload) % 480 AS BIGINT) AS height
      |  FROM m),
      |sc AS (
      |  SELECT *, least(224 * 1000000 // width, 224 * 1000000 // height) AS scale_e6
      |  FROM g),
      |d AS (
      |  SELECT *, CAST(width * scale_e6 // 1000000 AS INT) AS dst_w,
      |            CAST(height * scale_e6 // 1000000 AS INT) AS dst_h
      |  FROM sc)
      |SELECT media_id, kind, width, height,
      |       CAST(scale_e6 AS BIGINT) AS scale_e6, dst_w, dst_h,
      |       CAST((224 - dst_w) // 2 AS INT) AS pad_x,
      |       CAST((224 - dst_h) // 2 AS INT) AS pad_y,
      |       CAST(CASE WHEN scale_e6 > 1000000 THEN 1 ELSE 0 END AS INT) AS upscaled
      |FROM d ORDER BY media_id""".stripMargin) { (s, dir) =>
    Multimodal.resizePlan(
      Multimodal.metaColumns(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF()),
      targetW = 224, targetH = 224)
      .orderBy("media_id")
  }

  // x194 — LSH ESTIMATOR CALIBRATION: x7's banded candidates, each
  // scored by |signature estimate − exact Jaccard| and folded into
  // estimate deciles — the reliability table that justifies (or
  // indicts) the band parameters before a threshold ships. Candidate
  // generation is byte-identical to x7 (same guards); the audit adds
  // two slim per-pair joins and an 11-key combinable rollup.
  val x194 = Q(
    "x194_lsh_calibration",
    s"""WITH $x7Ctes,
      |sm AS (
      |  SELECT c.a, c.b,
      |         CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS matches
      |  FROM cand c
      |  JOIN m ma ON ma.doc_id = c.a
      |  JOIN m mb ON mb.doc_id = c.b AND mb.i = ma.i
      |  GROUP BY c.a, c.b),
      |ex AS (
      |  SELECT c.a, c.b,
      |         CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS ni,
      |         CAST(len(list_distinct(list_concat(sa.hs, sb.hs))) AS BIGINT) AS nu
      |  FROM cand c JOIN ha sa ON sa.doc_id = c.a JOIN ha sb ON sb.doc_id = c.b),
      |p AS (
      |  SELECT sm.a, sm.b, matches * 1000000 // 64 AS est_e6,
      |         ni * 1000000 // nu AS exact_e6
      |  FROM sm JOIN ex ON ex.a = sm.a AND ex.b = sm.b)
      |SELECT CAST(est_e6 // 100000 AS INT) AS decile,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(abs(est_e6 - exact_e6)) // count(*) AS BIGINT) AS mae_e6,
      |       CAST(sum(exact_e6) // count(*) AS BIGINT) AS mean_exact_e6
      |FROM p GROUP BY 1
      |ORDER BY decile""".stripMargin) { (s, dir) =>
    Dedup.lshCalibration(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy("decile")
  }

  // x195 — PERSONALIZED PAGERANK (random walk with restart) from the
  // node%50=0 seed set on x64's capped co-shingle graph: which corpus
  // regions the seeds irrigate. UNLIKE x64, the whole walk is e12
  // fixed-point BIGINT (damping as the rational 85/100) — zero floats,
  // so parity needs no double→decimal rounding-mode luck; left-join
  // restart so seed leaves keep their mass; 3 unrolled iterations.
  val x195 = Q(
    "x195_ppr",
    s"""WITH $coShingleEdgeCtes,
      |ns AS (SELECT COUNT(*) AS ns FROM deg WHERE src % 50 = 0),
      |a AS (SELECT d.src AS node, d.deg,
      |             CASE WHEN d.src % 50 = 0
      |                  THEN 1000000000000 // ns.ns
      |                  ELSE 0 END AS p
      |      FROM deg d CROSS JOIN ns),
      |r0 AS (SELECT node, deg, p, p AS r FROM a),
      |i1 AS (SELECT e.dst AS node, CAST(SUM(r.r // r.deg) AS BIGINT) AS s
      |       FROM r0 r JOIN e ON e.src = r.node GROUP BY e.dst),
      |r1 AS (SELECT a.node, a.deg, a.p,
      |              (15 * a.p + 85 * COALESCE(i1.s, 0)) // 100 AS r
      |       FROM a LEFT JOIN i1 ON i1.node = a.node),
      |i2 AS (SELECT e.dst AS node, CAST(SUM(r.r // r.deg) AS BIGINT) AS s
      |       FROM r1 r JOIN e ON e.src = r.node GROUP BY e.dst),
      |r2 AS (SELECT a.node, a.deg, a.p,
      |              (15 * a.p + 85 * COALESCE(i2.s, 0)) // 100 AS r
      |       FROM a LEFT JOIN i2 ON i2.node = a.node),
      |i3 AS (SELECT e.dst AS node, CAST(SUM(r.r // r.deg) AS BIGINT) AS s
      |       FROM r2 r JOIN e ON e.src = r.node GROUP BY e.dst),
      |r3 AS (SELECT a.node, a.deg, a.p,
      |              (15 * a.p + 85 * COALESCE(i3.s, 0)) // 100 AS r
      |       FROM a LEFT JOIN i3 ON i3.node = a.node)
      |SELECT node AS doc_id, CAST(deg AS BIGINT) AS degree,
      |       CAST(r AS BIGINT) AS ppr_e12
      |FROM r3 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Graph.personalizedPageRank(
      Graph.coShingleEdges(Tables.documents(s, dir).where(col("doc_id") < 1500),
        col("doc_id"), col("text"), n = 3, maxShingleDf = 64L),
      isSeed = c => c % 50 === 0, iters = 3)
      .orderBy("doc_id")
  }

  // x196 — PER-KEY WINSORIZED STATS: each order priority's cent
  // distribution clipped at its own exact [p10, p90] values — the
  // robust-mean preprocessing gate. The boundary rank is found by the
  // two-phase range-sort + broadcast-offset discipline EXTENDED TO
  // KEYS (a 5-value key never serializes the corpus through 5 window
  // tasks); the winsorized sum rides a DECIMAL(38) accumulator.
  val x196 = Q(
    "x196_winsorize",
    """WITH b AS (
      |  SELECT o_orderpriority AS k, o_orderkey AS id,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders),
      |r AS (
      |  SELECT k, id, v,
      |         CAST(row_number() OVER (PARTITION BY k ORDER BY v, id) AS BIGINT) AS rnk,
      |         CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n_k
      |  FROM b),
      |cuts AS (
      |  SELECT k,
      |         MAX(CASE WHEN rnk = (n_k * 10 + 99) // 100 THEN v END) AS lo_cut,
      |         MAX(CASE WHEN rnk = n_k + 1 - (n_k * 10 + 99) // 100 THEN v END) AS hi_cut
      |  FROM r GROUP BY k)
      |SELECT b.k AS k, CAST(count(*) AS BIGINT) AS n, lo_cut, hi_cut,
      |       CAST(SUM(CASE WHEN v < lo_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
      |       CAST(SUM(CASE WHEN v > hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      |       CAST(CAST(SUM(GREATEST(lo_cut, LEAST(hi_cut, v))) AS HUGEINT) AS VARCHAR) AS wsum
      |FROM b JOIN cuts ON cuts.k = b.k
      |GROUP BY b.k, lo_cut, hi_cut
      |ORDER BY b.k""".stripMargin) { (s, dir) =>
    Profile.winsorizedStats(Tables.orders(s, dir),
      col("o_orderpriority"), col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"), tailPct = 10)
      .orderBy("k")
  }

  // x197 — BURSTINESS (index of dispersion) per event type: daily-count
  // VMR over each type's own day span, zero days counted via the span
  // length alone (no calendar explode). Exact cross-multiplication in
  // DECIMAL(38); ≈1e6 = Poisson, ≫1e6 = bursty.
  val x197 = Q(
    "x197_burstiness",
    """WITH d AS (
      |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT k,
      |         CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT) AS span_days,
      |         CAST(COUNT(*) AS BIGINT) AS active_days,
      |         CAST(SUM(c) AS BIGINT) AS s,
      |         SUM(c::HUGEINT * c) AS q
      |  FROM d GROUP BY 1)
      |SELECT k, span_days, active_days, s,
      |       CAST(CASE WHEN span_days >= 2 AND s > 0
      |            THEN (span_days * q - s::HUGEINT * s) * 1000000 // ((span_days - 1) * s)
      |            ELSE NULL END AS BIGINT) AS vmr_ppm,
      |       CAST(CASE WHEN span_days >= 2 AND s > 0
      |                  AND (span_days * q - s::HUGEINT * s) * 1000000 // ((span_days - 1) * s) > 1000000
      |            THEN 1 ELSE 0 END AS INT) AS overdispersed
      |FROM g ORDER BY k""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.burstiness(Tables.events(s, dir),
      col("event_type"), col("ts"))
      .orderBy("k")
  }

  // x198 — TOKENIZER FERTILITY by language: chars-per-BPE-token and
  // bytes-per-char in exact ppm — the fairness numbers a mixture reads
  // before fixing per-language token budgets. One combinable groupBy,
  // no explode (counts only, never the token stream).
  val x198 = Q(
    "x198_fertility",
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
      |       CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
      |                ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_ws,
      |       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_bpe,
      |       CAST(CASE WHEN SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) > 0
      |            THEN SUM(length(text))::HUGEINT * 1000000
      |                 // SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
      |            ELSE NULL END AS BIGINT) AS chars_per_bpe_ppm,
      |       CAST(CASE WHEN SUM(length(text)) > 0
      |            THEN SUM(octet_length(encode(text)))::HUGEINT * 1000000 // SUM(length(text))
      |            ELSE NULL END AS BIGINT) AS bytes_per_char_ppm
      |FROM documents GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    TextAnalysis.tokenizerFertility(Tables.documents(s, dir),
      col("lang"), col("text"))
      .orderBy("lang")
  }

  // x199 — LATENESS AUDIT: per event type, the log2 histogram of how
  // far event time sits behind the per-user running max in arrival
  // (event_id) order — the watermark-design table. Bucket −2 = first
  // arrival, −1 = in order, else ⌊log2 µs⌋. One user-keyed window +
  // a ≤ types×65-cell combinable rollup.
  val x199 = Q(
    "x199_lateness",
    """WITH l AS (
      |  SELECT event_type AS et,
      |         MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max,
      |         epoch_us(ts) AS tus
      |  FROM events),
      |b AS (
      |  SELECT et, GREATEST(0, prior_max - tus) AS late_us,
      |         CASE WHEN prior_max IS NULL THEN -2
      |              WHEN GREATEST(0, prior_max - tus) = 0 THEN -1
      |              ELSE length(bin(GREATEST(0, prior_max - tus))) - 1 END AS bucket
      |  FROM l)
      |SELECT et AS event_type, CAST(bucket AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |FROM b GROUP BY 1, 2
      |ORDER BY event_type, bucket""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.latenessAudit(Tables.events(s, dir),
      col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .orderBy("event_type", "bucket")
  }

  // x200 — CHI-SQUARED ASSOCIATION between two categoricals (market
  // segment × nation), exact to the ppm: the independence screen a
  // feature audit runs before trusting a categorical pair. Only
  // OCCUPIED cells are touched (χ² = Σ o²N/(r·c) − N); one data-scale
  // exchange, margins are cell-scale, broadcast back.
  val x200 = Q(
    "x200_chi2_assoc",
    """WITH cells AS (
      |  SELECT CAST(c_mktsegment AS VARCHAR) AS a,
      |         CAST(c_nationkey AS VARCHAR) AS b,
      |         CAST(count(*) AS BIGINT) AS o
      |  FROM customer GROUP BY 1, 2),
      |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
      |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
      |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      |ts AS (SELECT SUM(cells.o::HUGEINT * cells.o * nn.n * 1000000
      |                  // (ra.ra::HUGEINT * cb.cb)) AS tsum,
      |              CAST(count(*) AS BIGINT) AS cells_occupied
      |       FROM cells, ra, cb, nn
      |       WHERE ra.a = cells.a AND cb.b = cells.b)
      |SELECT nn.n AS n,
      |       (SELECT CAST(count(*) AS BIGINT) FROM ra) AS a_levels,
      |       (SELECT CAST(count(*) AS BIGINT) FROM cb) AS b_levels,
      |       ts.cells_occupied,
      |       ((SELECT count(*) FROM ra) - 1)
      |         * ((SELECT count(*) FROM cb) - 1) AS dof,
      |       CAST(ts.tsum - nn.n::HUGEINT * 1000000 AS BIGINT) AS chi2_ppm,
      |       CAST((ts.tsum - nn.n::HUGEINT * 1000000) // nn.n AS BIGINT)
      |         AS chi2_per_n_ppm
      |FROM nn, ts""".stripMargin) { (s, dir) =>
    Profile.chi2Assoc(Tables.customer(s, dir),
      col("c_mktsegment"), col("c_nationkey"))
  }

  // x201 — T-CLOSENESS audit, the third leg of the governance triad
  // (x120 k-anonymity: big enough; x192 l-diversity: varied enough;
  // here: mix not SKEWED vs the corpus). Total variation distance per
  // (lang, len-bucket) class vs the global source mix, exact ppm;
  // absent sources fold into one closed-form term so only occupied
  // cells are touched.
  val x201 = Q(
    "x201_t_closeness",
    """WITH cells AS (
      |  SELECT lang, CAST(length(text) // 200 AS BIGINT) AS len_bucket,
      |         source AS sv, CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents GROUP BY 1, 2, 3),
      |gs AS (SELECT sv, CAST(sum(cnt) AS BIGINT) AS gsv FROM cells GROUP BY 1),
      |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tot FROM cells),
      |cl AS (SELECT lang, len_bucket, CAST(sum(cnt) AS BIGINT) AS n
      |       FROM cells GROUP BY 1, 2),
      |agg AS (
      |  SELECT cells.lang, cells.len_bucket, cl.n, nn.n_tot,
      |         SUM(ABS(cells.cnt::HUGEINT * nn.n_tot
      |                 - gs.gsv::HUGEINT * cl.n)) AS occ,
      |         CAST(SUM(gs.gsv) AS BIGINT) AS gsum
      |  FROM cells, gs, cl, nn
      |  WHERE gs.sv = cells.sv AND cl.lang = cells.lang
      |    AND cl.len_bucket = cells.len_bucket
      |  GROUP BY 1, 2, 3, 4)
      |SELECT lang, len_bucket, n,
      |       CAST((occ + n::HUGEINT * (n_tot - gsum)) * 1000000
      |            // (2 * n::HUGEINT * n_tot) AS BIGINT) AS tvd_ppm,
      |       CAST(CASE WHEN (occ + n::HUGEINT * (n_tot - gsum)) * 1000000
      |                      // (2 * n::HUGEINT * n_tot) > 250000
      |            THEN 1 ELSE 0 END AS INT) AS at_risk
      |FROM agg ORDER BY lang, len_bucket""".stripMargin) { (s, dir) =>
    Profile.tCloseness(Tables.documents(s, dir),
      Seq(("lang", col("lang")),
        ("len_bucket", expr("CAST(length(text) DIV 200 AS BIGINT)"))),
      col("source"), tPpm = 250000L)
      .orderBy("lang", "len_bucket")
  }

  // x202 — MAX CONCURRENT OPEN INTERVALS per supplier (sweep-line,
  // distributed): order date → ship date intervals, +1/−1 deltas, the
  // per-key running-sum peak and the earliest microsecond it is
  // reached. Half-open semantics pinned by the (t, d) tie order; one
  // keyed window, never global.
  val x202 = Q(
    "x202_max_concurrency",
    """WITH iv AS (
      |  SELECT l_suppkey AS k, epoch_us(o_orderdate) AS st,
      |         epoch_us(l_shipdate) AS en
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |  WHERE epoch_us(l_shipdate) > epoch_us(o_orderdate)),
      |ev AS (SELECT k, st AS t, CAST(1 AS BIGINT) AS d FROM iv
      |       UNION ALL SELECT k, en, CAST(-1 AS BIGINT) FROM iv),
      |r AS (SELECT k, t,
      |        SUM(d) OVER (PARTITION BY k ORDER BY t, d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
      |      FROM ev),
      |m AS (SELECT k, count(*) // 2 AS n_iv, MAX(open) AS mo
      |      FROM r GROUP BY k)
      |SELECT m.k AS k, CAST(m.n_iv AS BIGINT) AS n_iv,
      |       CAST(m.mo AS BIGINT) AS max_open,
      |       CAST(MIN(r.t) AS BIGINT) AS peak_us
      |FROM r JOIN m ON r.k = m.k AND r.open = m.mo
      |GROUP BY 1, 2, 3
      |ORDER BY k""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.maxConcurrency(
      Tables.lineitem(s, dir).join(Tables.orders(s, dir),
        col("o_orderkey") === col("l_orderkey")),
      col("l_suppkey"), col("o_orderdate"), col("l_shipdate"))
      .orderBy("k")
  }

  // x203 — LEAVE-ONE-OUT TARGET ENCODING of order priority against the
  // cent-valued order total, alpha=20 smoothing — the leakage-safe
  // categorical→numeric feature, exact in ppm of a cent. The verify
  // surface is the per-key digest (n, min, max, exact sum) proving all
  // N row encodings without shipping N rows.
  val x203 = Q(
    "x203_target_encode",
    """WITH b AS (
      |  SELECT o_orderpriority AS k, o_orderkey AS id,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders),
      |g AS (SELECT CAST(sum(v) AS HUGEINT) AS sv,
      |             CAST(count(*) AS BIGINT) AS n FROM b),
      |ks AS (SELECT k, CAST(sum(v) AS HUGEINT) AS sk,
      |              CAST(count(*) AS BIGINT) AS nk FROM b GROUP BY 1),
      |e AS (SELECT b.k,
      |             (ks.sk - b.v + 20 * (g.sv // g.n)) * 1000000
      |               // (ks.nk - 1 + 20) AS enc
      |      FROM b, ks, g WHERE ks.k = b.k)
      |SELECT k, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(enc) AS BIGINT) AS enc_min,
      |       CAST(max(enc) AS BIGINT) AS enc_max,
      |       CAST(CAST(sum(enc) AS HUGEINT) AS VARCHAR) AS enc_sum
      |FROM e GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
    Sampling.targetEncodeDigest(
      Sampling.targetEncodeLoo(Tables.orders(s, dir),
        col("o_orderpriority"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"), alpha = 20))
      .orderBy("k")
  }

  // x204 — MARKET CONCENTRATION (HHI + CR4) of supplier revenue per
  // nation, exact ppm: the skew report that doubles as a shard-balance
  // audit. One data-scale (market, firm) rollup; the top-4 window runs
  // on the firm-level AGGREGATE, never the fact table; revenue ships
  // as a string (cent sums pass 2^63 at design point).
  val x204 = Q(
    "x204_market_hhi",
    """WITH per AS (
      |  SELECT CAST(s_nationkey AS BIGINT) AS m, l_suppkey AS f,
      |         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |              AS HUGEINT) AS r
      |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |  GROUP BY 1, 2),
      |rk AS (SELECT m, f, r,
      |         row_number() OVER (PARTITION BY m ORDER BY r DESC, f) AS rk
      |       FROM per)
      |SELECT m, CAST(count(*) AS BIGINT) AS n_firms,
      |       CAST(CAST(sum(r) AS HUGEINT) AS VARCHAR) AS revenue,
      |       CAST(sum(r * r) * 1000000 // (sum(r) * sum(r)) AS BIGINT)
      |         AS hhi_ppm,
      |       CAST(sum(CASE WHEN rk <= 4 THEN r ELSE 0 END) * 1000000
      |            // sum(r) AS BIGINT) AS cr4_ppm
      |FROM rk GROUP BY m
      |ORDER BY m""".stripMargin) { (s, dir) =>
    Profile.marketConcentration(
      Tables.lineitem(s, dir).join(broadcast(Tables.supplier(s, dir)),
        col("s_suppkey") === col("l_suppkey")),
      col("s_nationkey").cast("long"), col("l_suppkey"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .orderBy("m")
  }

  // x205 — SYSTEMATIC SAMPLE audit: every 16th row of the md5-permuted
  // order stream starting at offset 7 — exact sample size by
  // construction (vs Bernoulli's binomial draw), pick set proven by
  // the Σh checksum. The global stride rank rides the two-phase
  // globalRank discipline (no global window).
  val x205 = Q(
    "x205_systematic_sample",
    """WITH h AS (
      |  SELECT ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM orders),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM h),
      |r AS (SELECT h, row_number() OVER (ORDER BY h) - 1 AS p FROM h),
      |s AS (SELECT h FROM r WHERE p % 16 = 7)
      |SELECT n.n_total, CAST(count(*) AS BIGINT) AS n_picked,
      |       CAST(min(h) AS BIGINT) AS min_h, CAST(max(h) AS BIGINT) AS max_h,
      |       CAST(SUM(h::HUGEINT) % 1152921504606846976 AS BIGINT) AS checksum,
      |       CAST(count(*) * 1000000 // n.n_total AS BIGINT) AS load_ppm
      |FROM s, n GROUP BY n.n_total""".stripMargin) { (s, dir) =>
    Sampling.systematicSample(Tables.orders(s, dir), col("o_orderkey"),
      k = 16, offset = 7)
  }

  // x206 — MRR of the LSH index vs brute-force truth: rank-SENSITIVE
  // where x84's recall is rank-blind. Reciprocal ranks in exact fixed
  // point (1e6 DIV rank, miss = 0); the eval runs the two
  // already-audited plans over a fixed 10-query sample and joins
  // |queries| rows broadcast.
  val x206 = Q(
    "x206_ann_mrr",
    s"""WITH planes(tbl, i, p) AS (VALUES
      |  $planeRows),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |b AS (
      |  SELECT e.vec_id, pl.tbl,
      |         CAST(SUM(CASE WHEN list_dot_product(e.emb, pl.p) >= 0
      |                       THEN (1::BIGINT << pl.i) ELSE 0::BIGINT END) AS BIGINT) AS bucket
      |  FROM e CROSS JOIN planes pl GROUP BY e.vec_id, pl.tbl),
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
      |  FROM b c JOIN b q ON c.tbl = q.tbl AND c.bucket = q.bucket
      |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |scored AS (
      |  SELECT cand.qid, cand.vid AS neighbor_id,
      |         round(list_cosine_similarity(qe.emb, ce.emb), 6) AS sim
      |  FROM cand JOIN e qe ON qe.vec_id = cand.qid JOIN e ce ON ce.vec_id = cand.vid),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM scored),
      |approx AS (SELECT qid, neighbor_id, rank FROM r WHERE rank <= 5),
      |bp AS (
      |  SELECT q.vec_id AS qid, e2.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(q.emb, e2.emb), 6) AS sim
      |  FROM e q, e e2
      |  WHERE q.vec_id < 10 AND e2.vec_id <> q.vec_id),
      |br AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |       FROM bp),
      |truth AS (SELECT qid, neighbor_id AS tid FROM br WHERE rank = 1),
      |j AS (
      |  SELECT t.qid, COALESCE(1000000 // a.rank, 0) AS rr_e6,
      |         CASE WHEN a.rank = 1 THEN 1 ELSE 0 END AS h1,
      |         CASE WHEN a.rank IS NOT NULL THEN 1 ELSE 0 END AS hk
      |  FROM truth t LEFT JOIN approx a
      |    ON a.qid = t.qid AND a.neighbor_id = t.tid)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |       CAST(sum(h1) AS BIGINT) AS n_hit1,
      |       CAST(sum(hk) AS BIGINT) AS n_hitk,
      |       CAST(sum(rr_e6) AS BIGINT) AS mrr_sum_e6,
      |       CAST(sum(rr_e6) // count(*) AS BIGINT) AS mrr_mean_e6
      |FROM j""".stripMargin) { (s, dir) =>
    Similarity.annMrr(normalizedEmb(s, dir), (0L until 10L).toSeq, k = 5)
  }

  // x207 — GINI SPLIT IMPURITY of order status under order priority —
  // the decision-tree split evaluator next to x200's χ² screen:
  // per-branch impurity, weighted contribution, and the `<all>` parent
  // row so gain reads straight off the result. Cells only after one
  // combinable exchange.
  val x207 = Q(
    "x207_gini_split",
    """WITH cells AS (
      |  SELECT o_orderpriority AS f, o_orderstatus AS y,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1, 2),
      |pf AS (SELECT f, CAST(sum(c) AS BIGINT) AS n,
      |              CAST(count(*) AS BIGINT) AS n_classes,
      |              SUM(c::HUGEINT * c) AS c2
      |       FROM cells GROUP BY 1),
      |pc AS (SELECT y, CAST(sum(c) AS BIGINT) AS c FROM cells GROUP BY 1),
      |pr AS (SELECT '<all>' AS f, CAST(sum(c) AS BIGINT) AS n,
      |              CAST(count(*) AS BIGINT) AS n_classes,
      |              SUM(c::HUGEINT * c) AS c2
      |       FROM pc),
      |u AS (SELECT * FROM pf UNION ALL SELECT * FROM pr),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM cells)
      |SELECT f, n, n_classes,
      |       CAST((n::HUGEINT * n - c2) * 1000000 // (n::HUGEINT * n) AS BIGINT)
      |         AS impurity_ppm,
      |       CAST(((n::HUGEINT * n - c2) * 1000000 // (n::HUGEINT * n)) * n
      |            // n_all AS BIGINT) AS wimp_ppm
      |FROM u, nn ORDER BY f""".stripMargin) { (s, dir) =>
    Profile.giniSplit(Tables.orders(s, dir),
      col("o_orderpriority"), col("o_orderstatus"))
      .orderBy("f")
  }

  // x208 — EXACT ROC-AUC (Mann–Whitney U) of the extended-price score
  // against the return flag: threshold-free "does the score separate
  // the classes", midrank ties handled by integer algebra on per-value
  // groups (no averaging) over the two-phase global rank. U×2 ships as
  // a string (n₁·n₀ passes 2^63 at design point).
  val x208 = Q(
    "x208_rank_auc",
    """WITH b AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |         l_orderkey * 10 + l_linenumber AS id
      |  FROM lineitem),
      |r AS (SELECT y, v, CAST(row_number() OVER (ORDER BY v, id) AS BIGINT) AS rnk
      |      FROM b),
      |g AS (SELECT v, CAST(count(*) AS BIGINT) AS n_v,
      |             CAST(sum(y) AS BIGINT) AS c1,
      |             CAST(min(rnk) AS BIGINT) AS minr
      |      FROM r GROUP BY v),
      |a AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |             CAST(sum(n_v - c1) AS BIGINT) AS n0,
      |             SUM(c1::HUGEINT * (2 * (minr - 1) + n_v + 1)) AS r1_x2
      |      FROM g)
      |SELECT n1 AS n_pos, n0 AS n_neg,
      |       CAST(r1_x2 - n1::HUGEINT * (n1 + 1) AS VARCHAR) AS u_x2,
      |       CAST((r1_x2 - n1::HUGEINT * (n1 + 1)) * 1000000
      |            // (2 * n1::HUGEINT * n0) AS BIGINT) AS auc_ppm
      |FROM a""".stripMargin) { (s, dir) =>
    Profile.rankAuc(Tables.lineitem(s, dir),
      (col("l_returnflag") === "R").cast("int"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
      expr("l_orderkey * 10 + l_linenumber"))
  }

  // x209 — TWO-PROPORTION z² for every order-priority pair: the A/B
  // readout on conversion (status F), exact rational z² (= the 2×2 χ²)
  // with one DIV per pair; `significant` = z² > 3.841459 (χ²₁ @ 95%).
  // One combinable rollup; the pair matrix is |segments|², broadcast.
  val x209 = Q(
    "x209_ab_lift",
    """WITH per AS (
      |  SELECT o_orderpriority AS s, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS x
      |  FROM orders GROUP BY 1)
      |SELECT a.s AS seg_a, b.s AS seg_b, a.n AS n_a, a.x AS x_a,
      |       b.n AS n_b, b.x AS x_b,
      |       CAST((a.x::HUGEINT * b.n - b.x::HUGEINT * a.n) * 1000000
      |            // (a.n::HUGEINT * b.n) AS BIGINT) AS diff_ppm,
      |       CAST(CASE WHEN (a.x + b.x) > 0 AND (a.x + b.x) < (a.n + b.n)
      |            THEN (a.x::HUGEINT * b.n - b.x::HUGEINT * a.n)
      |                 * (a.x::HUGEINT * b.n - b.x::HUGEINT * a.n)
      |                 * (a.n + b.n) * 1000000
      |                 // (a.n::HUGEINT * b.n * (a.x + b.x)
      |                    * (a.n + b.n - a.x - b.x))
      |            ELSE NULL END AS BIGINT) AS z2_ppm,
      |       CAST(CASE WHEN (a.x + b.x) > 0 AND (a.x + b.x) < (a.n + b.n)
      |                  AND (a.x::HUGEINT * b.n - b.x::HUGEINT * a.n)
      |                      * (a.x::HUGEINT * b.n - b.x::HUGEINT * a.n)
      |                      * (a.n + b.n) * 1000000
      |                      // (a.n::HUGEINT * b.n * (a.x + b.x)
      |                         * (a.n + b.n - a.x - b.x)) > 3841459
      |            THEN 1 ELSE 0 END AS INT) AS significant
      |FROM per a JOIN per b ON a.s < b.s
      |ORDER BY seg_a, seg_b""".stripMargin) { (s, dir) =>
    Profile.twoProportionZ2(Tables.orders(s, dir),
      col("o_orderpriority"), (col("o_orderstatus") === "F").cast("int"))
      .orderBy("seg_a", "seg_b")
  }

  // x210 — CALIBRATION RELIABILITY TABLE: order-value score deciles
  // (two-phase globalBuckets rank — bucket 0 = highest) vs observed
  // conversion rate — WHERE the score is over/under-confident, the
  // companion to x208's single-number AUC. The label rides inside the
  // rank id (id·2 + y), so no data-scale join back exists.
  val x210 = Q(
    "x210_calibration",
    """WITH b AS (
      |  SELECT o_orderkey * 2 + CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS id2,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS m
      |  FROM orders),
      |r AS (SELECT id2, m, CAST(row_number() OVER (ORDER BY m DESC, id2) AS BIGINT) AS rn
      |      FROM b),
      |n AS (SELECT count(*) AS cnt FROM b),
      |k AS (SELECT CAST(least((rn - 1) * 10 // cnt, 9) AS BIGINT) AS bucket,
      |             m, id2 % 2 AS y
      |      FROM r, n)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(y) AS BIGINT) AS n_pos,
      |       CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
      |       CAST(CAST(sum(m) AS HUGEINT) AS VARCHAR) AS sum_score,
      |       CAST(CAST(sum(m) AS HUGEINT) // count(*) AS BIGINT) AS mean_score_floor
      |FROM k GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (s, dir) =>
    Profile.calibrationTable(Tables.orders(s, dir), col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      (col("o_orderstatus") === "F").cast("int"))
      .orderBy("bucket")
  }

  // x211 — SHARD-UNIFORMITY χ² certification: is the rendezvous hash's
  // 32-way spread statistically uniform? Closes the sharding family
  // (x82 assigns, x110/x174 report load) with an exact-ppm GOF test —
  // absent shards fold into the (k−occ)·N² closed form. One combinable
  // rollup; the χ² runs on ≤32 rows.
  val x211 = Q(
    "x211_shard_uniformity",
    // ORACLE NOTE (round 13): the original declarative form — orders ×
    // generate_series(0,31) then max(struct) GROUP BY id — ate 125 GB
    // in DuckDB at sf1 (48M grouped struct rows resist spilling) and
    // got the whole sf1 gate OOM-killed. This list-comprehension form
    // is value-identical (proven equal at sf0.1 incl. the last-max =
    // larger-shard tie rule) and runs the sf1 corpus in ~9 s under a
    // 24 GB cap: the argmax happens scan-side per row, so nothing
    // corpus×32-sized is ever materialized or grouped.
    """WITH ar AS (
      |  SELECT o_orderkey AS id,
      |         [('0x' || substring(md5(o_orderkey::VARCHAR || ':' || s::VARCHAR), 1, 15))::BIGINT
      |          FOR s IN range(0, 32)] AS hs
      |  FROM orders),
      |a AS (SELECT id, CAST(32 - list_position(list_reverse(hs), list_max(hs)) AS BIGINT) AS shard
      |      FROM ar),
      |l AS (SELECT shard, CAST(count(*) AS BIGINT) AS c FROM a GROUP BY 1),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS occ
      |      FROM l)
      |SELECT CAST(32 AS BIGINT) AS shards, n.n, n.occ AS shards_occupied,
      |       CAST(min(l.c) AS BIGINT) AS min_load,
      |       CAST(max(l.c) AS BIGINT) AS max_load,
      |       CAST((SUM((l.c::HUGEINT * 32 - n.n) * (l.c::HUGEINT * 32 - n.n))
      |             + (32 - n.occ) * n.n::HUGEINT * n.n) * 1000000
      |            // (32 * n.n::HUGEINT) AS BIGINT) AS chi2_ppm,
      |       CAST((SUM((l.c::HUGEINT * 32 - n.n) * (l.c::HUGEINT * 32 - n.n))
      |             + (32 - n.occ) * n.n::HUGEINT * n.n) * 1000000
      |            // (32 * n.n::HUGEINT) // 31 AS BIGINT) AS chi2_per_dof_ppm,
      |       CAST(CASE WHEN (SUM((l.c::HUGEINT * 32 - n.n) * (l.c::HUGEINT * 32 - n.n))
      |                       + (32 - n.occ) * n.n::HUGEINT * n.n) * 1000000
      |                      // (32 * n.n::HUGEINT) // 31 > 2000000
      |            THEN 1 ELSE 0 END AS INT) AS skewed
      |FROM l, n GROUP BY n.n, n.occ""".stripMargin) { (s, dir) =>
    Sampling.shardUniformity(Tables.orders(s, dir), col("o_orderkey"),
      shards = 32)
  }

  // x212 — CHANGEPOINT (binary segmentation, first split) per event
  // type over the daily count series: the day whose two-segment fit
  // best explains Σc², exact e6 gains with deterministic argmax
  // (struct max on (gain, −i)). Day-cardinality after one rollup.
  val x212 = Q(
    "x212_changepoint",
    """WITH d AS (
      |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |cu AS (
      |  SELECT k, day,
      |         CAST(row_number() OVER (PARTITION BY k ORDER BY day) AS BIGINT) AS i,
      |         CAST(SUM(c) OVER (PARTITION BY k ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
      |  FROM d),
      |t AS (SELECT k, MAX(i) AS n, MAX(s) AS stot FROM cu GROUP BY k),
      |g AS (
      |  SELECT cu.k, cu.day, cu.i, t.n,
      |         (cu.s::HUGEINT * cu.s * (t.n - cu.i)
      |          + (t.stot - cu.s)::HUGEINT * (t.stot - cu.s) * cu.i) * 1000000
      |           // (cu.i * (t.n - cu.i))
      |         - t.stot::HUGEINT * t.stot * 1000000 // t.n AS gain,
      |         cu.s // cu.i AS ml,
      |         (t.stot - cu.s) // (t.n - cu.i) AS mr
      |  FROM cu JOIN t ON t.k = cu.k WHERE cu.i < t.n),
      |b AS (SELECT k, n,
      |        max(struct_pack(g := gain, ni := -i, day := day,
      |                        ml := ml, mr := mr)) AS m
      |      FROM g GROUP BY k, n)
      |SELECT k, n AS n_days, (m).day AS split_day,
      |       CAST((m).g AS BIGINT) AS gain_e6,
      |       CAST((m).ml AS BIGINT) AS mean_left,
      |       CAST((m).mr AS BIGINT) AS mean_right
      |FROM b ORDER BY k""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.changepoint(Tables.events(s, dir),
      col("event_type"), col("ts"))
      .orderBy("k")
  }

  // x213 — WALD–WOLFOWITZ RUNS TEST per event type on daily up/down
  // signs (ties dropped): trending = too few runs, oscillating = too
  // many; exact rational z² with one DIV per key, NULL on degenerate
  // sign sets. Day-cardinality after one rollup.
  val x213 = Q(
    "x213_runs_test",
    """WITH d AS (
      |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |sg AS (
      |  SELECT k, day,
      |         CASE WHEN c > lag(c) OVER (PARTITION BY k ORDER BY day) THEN 1
      |              WHEN c < lag(c) OVER (PARTITION BY k ORDER BY day) THEN -1
      |         END AS sgn
      |  FROM d),
      |r AS (SELECT k, day, sgn FROM sg WHERE sgn IS NOT NULL),
      |ch AS (
      |  SELECT k, sgn,
      |         CASE WHEN lag(sgn) OVER (PARTITION BY k ORDER BY day) IS NULL THEN 0
      |              WHEN sgn <> lag(sgn) OVER (PARTITION BY k ORDER BY day) THEN 1
      |              ELSE 0 END AS chg
      |  FROM r),
      |a AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
      |         CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
      |         CAST(sum(chg) + 1 AS BIGINT) AS runs
      |  FROM ch GROUP BY k)
      |SELECT k, n AS n_signs, n_up, n_down, runs,
      |       CAST(CASE WHEN n >= 2 AND 2 * n_up * n_down > n THEN
      |            (runs::HUGEINT * n - n - 2 * n_up * n_down)
      |            * (runs::HUGEINT * n - n - 2 * n_up * n_down) * (n - 1) * 1000000
      |            // ((2::HUGEINT * n_up * n_down) * (2 * n_up * n_down - n))
      |            ELSE NULL END AS BIGINT) AS z2_ppm,
      |       CAST(CASE WHEN n >= 2 AND 2 * n_up * n_down > n AND
      |            (runs::HUGEINT * n - n - 2 * n_up * n_down)
      |            * (runs::HUGEINT * n - n - 2 * n_up * n_down) * (n - 1) * 1000000
      |            // ((2::HUGEINT * n_up * n_down) * (2 * n_up * n_down - n)) > 3841459
      |            THEN 1 ELSE 0 END AS INT) AS nonrandom
      |FROM a ORDER BY k""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.runsTest(Tables.events(s, dir),
      col("event_type"), col("ts"))
      .orderBy("k")
  }

  // x214 — ONE-WAY ANOVA F of order value (cents) across priorities:
  // the numeric×categorical member of the test quadrant (x200 χ²,
  // x208 AUC, x209 z²). Mean-square form keeps the product inside
  // DECIMAL(38); critical value F(4, ∞) @ 95% = 2.371945 in ppm.
  val x214 = Q(
    "x214_anova",
    """WITH b AS (
      |  SELECT o_orderpriority AS g,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders),
      |per AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS n_g,
      |         CAST(sum(v) AS HUGEINT) AS s_g,
      |         SUM(v::HUGEINT * v) AS q_g
      |  FROM b GROUP BY 1),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
      |         CAST(sum(s_g) AS HUGEINT) AS s, CAST(sum(q_g) AS HUGEINT) AS q,
      |         SUM(s_g * s_g * 1000000 // n_g) AS ssb_q
      |  FROM per),
      |e AS (
      |  SELECT k, n, ssb_q - s * s * 1000000 // n AS ssb_e6,
      |         q * 1000000 - ssb_q AS ssw_e6
      |  FROM a)
      |SELECT k AS k_groups, n,
      |       CAST(ssb_e6 AS VARCHAR) AS ssb_e6,
      |       CAST(ssw_e6 AS VARCHAR) AS ssw_e6,
      |       CAST(CASE WHEN k >= 2 AND n > k AND ssw_e6 > 0 THEN
      |            (ssb_e6 // (k - 1)) * 1000000 // (ssw_e6 // (n - k))
      |            ELSE NULL END AS BIGINT) AS f_ppm,
      |       CAST(CASE WHEN k >= 2 AND n > k AND ssw_e6 > 0 AND
      |            (ssb_e6 // (k - 1)) * 1000000 // (ssw_e6 // (n - k)) > 2371945
      |            THEN 1 ELSE 0 END AS INT) AS significant
      |FROM e""".stripMargin) { (s, dir) =>
    Profile.oneWayAnova(Tables.orders(s, dir), col("o_orderpriority"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      fCritPpm = 2371945L)
  }

  // x215 — DEGREE ASSORTATIVITY of the co-shingle graph: hubs-to-hubs
  // (r>0) vs hub-and-spoke (r<0) — the structural summary of the
  // boilerplate graph. On the symmetrized list the marginals coincide,
  // so Pearson clears to one DIV; NULL for regular graphs.
  val x215 = Q(
    "x215_assortativity",
    s"""WITH $coShingleEdgeCtes,
      |j AS (
      |  SELECT ds.deg AS x, dd.deg AS y
      |  FROM e JOIN deg ds ON ds.src = e.src
      |         JOIN deg dd ON dd.src = e.dst),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS m2,
      |         CAST(sum(x) AS HUGEINT) AS s,
      |         SUM(x::HUGEINT * x) AS q,
      |         SUM(x::HUGEINT * y) AS sxy
      |  FROM j)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |       m2 // 2 AS n_edges,
      |       (SELECT CAST(min(deg) AS BIGINT) FROM deg) AS min_deg,
      |       (SELECT CAST(max(deg) AS BIGINT) FROM deg) AS max_deg,
      |       CAST(CASE WHEN m2 * q - s * s > 0
      |            THEN (m2 * sxy - s * s) * 1000000 // (m2 * q - s * s)
      |            ELSE NULL END AS BIGINT) AS r_ppm
      |FROM a""".stripMargin) { (s, dir) =>
    Graph.assortativity(
      Graph.coShingleEdges(Tables.documents(s, dir).where(col("doc_id") < 1500),
        col("doc_id"), col("text"), n = 3, maxShingleDf = 64L))
  }

  // x216 — NEAREST AS-OF JOIN (pandas merge_asof direction='nearest'):
  // each error event gets the |Δt|-closest click on the same user,
  // backward winning ties — x15/x24's bidirectional sibling on the
  // same one-shuffle union spine (two frames over ONE keyed sort).
  val x216 = Q(
    "x216_asof_nearest",
    """WITH er AS (SELECT event_id, user_id, epoch_us(ts) AS t
      |            FROM events WHERE event_type = 'error'),
      |ck AS (SELECT event_id, user_id, epoch_us(ts) AS t
      |       FROM events WHERE event_type = 'click'),
      |u AS (
      |  SELECT user_id AS k, t, event_id AS id, 1 AS side,
      |         NULL::BIGINT AS rt, NULL::BIGINT AS rid FROM er
      |  UNION ALL
      |  SELECT user_id, t, event_id, 0, t, event_id FROM ck),
      |c AS (
      |  SELECT k, t, id, side,
      |    last_value(rid IGNORE NULLS) OVER (PARTITION BY k ORDER BY t, side, id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS brid,
      |    last_value(rt IGNORE NULLS) OVER (PARTITION BY k ORDER BY t, side, id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS brt,
      |    first_value(rid IGNORE NULLS) OVER (PARTITION BY k ORDER BY t, side, id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS frid,
      |    first_value(rt IGNORE NULLS) OVER (PARTITION BY k ORDER BY t, side, id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS frt
      |  FROM u),
      |p AS (
      |  SELECT id AS event_id,
      |         brid IS NOT NULL AND (frid IS NULL OR t - brt <= frt - t) AS tb,
      |         brid, frid, t, brt, frt
      |  FROM c WHERE side = 1)
      |SELECT event_id,
      |       CASE WHEN tb THEN brid ELSE frid END AS asof_click,
      |       CAST(CASE WHEN tb THEN t - brt
      |                 WHEN frid IS NOT NULL THEN frt - t END AS BIGINT) AS dist_us,
      |       CASE WHEN tb THEN 'b'
      |            WHEN frid IS NOT NULL THEN 'f' END AS dir
      |FROM p ORDER BY event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    graft.ops.AsofJoin.asofNearest(
      ev.where(col("event_type") === "error")
        .select("event_id", "user_id", "ts"),
      ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts"),
      key = "user_id", leftTime = "ts", rightTime = "ts",
      leftId = "event_id", rightId = "event_id")
      .withColumnRenamed("asof_event_id", "asof_click")
      .orderBy("event_id")
  }

  // x217 — NAIVE-BASELINE BACKTEST per event type: WAPE of persistence
  // (lag 1) vs seasonal-naive (lag 7) on the SAME eval rows — the
  // floor any forecaster must beat, exact ppm. Day-cardinality after
  // one rollup; <8-day keys drop out.
  val x217 = Q(
    "x217_wape_backtest",
    """WITH d AS (
      |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT k, c,
      |         lag(c, 1) OVER (PARTITION BY k ORDER BY day) AS l1,
      |         lag(c, 7) OVER (PARTITION BY k ORDER BY day) AS l7
      |  FROM d),
      |a AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS n_eval,
      |         CAST(sum(c) AS BIGINT) AS sa,
      |         CAST(sum(abs(c - l1)) AS BIGINT) AS e1,
      |         CAST(sum(abs(c - l7)) AS BIGINT) AS e7
      |  FROM l WHERE l7 IS NOT NULL GROUP BY k)
      |SELECT k, n_eval,
      |       CAST(e1 * 1000000 // sa AS BIGINT) AS wape1_ppm,
      |       CAST(e7 * 1000000 // sa AS BIGINT) AS wape7_ppm,
      |       CASE WHEN e7 * 1000000 // sa < e1 * 1000000 // sa
      |            THEN 'naive7' ELSE 'naive1' END AS winner
      |FROM a ORDER BY k""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.wapeBacktest(Tables.events(s, dir),
      col("event_type"), col("ts"))
      .orderBy("k")
  }

  // x218 — MANN–KENDALL TREND + SEN SLOPE per event type: the standard
  // nonparametric trend pairing (x150's OLS twin without its noise
  // assumptions). S over all day pairs, tie-corrected ×18 variance,
  // continuity-corrected z² exact; Sen slope = lower median of the
  // e6-quantized pair slopes (documented grid). Day² pairs per key,
  // calendar-bounded, loud refusal past maxDays.
  val x218 = Q(
    "x218_mann_kendall",
    """WITH d AS (
      |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.k, CAST(sign(b.c - a.c) AS BIGINT) AS sgn,
      |         (b.c - a.c) * 1000000 // date_diff('day', a.day, b.day) AS slope_e6
      |  FROM d a JOIN d b ON a.k = b.k AND a.day < b.day),
      |sen AS (
      |  SELECT k, slope_e6 AS sen_slope_e6 FROM (
      |    SELECT k, slope_e6,
      |           row_number() OVER (PARTITION BY k ORDER BY slope_e6) AS rn,
      |           count(*) OVER (PARTITION BY k) AS m
      |    FROM p) z WHERE rn = (m + 1) // 2),
      |ties AS (
      |  SELECT k, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tieterm,
      |         CAST(sum(t) AS BIGINT) AS n
      |  FROM (SELECT k, c, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1, 2) tt
      |  GROUP BY k),
      |s AS (SELECT k, CAST(sum(sgn) AS BIGINT) AS s_stat FROM p GROUP BY k)
      |SELECT s.k AS k, ties.n AS n_days, s.s_stat,
      |       CAST(CASE WHEN n * (n - 1) * (2 * n + 5) - tieterm > 0 THEN
      |            CASE WHEN abs(s_stat) <= 1 THEN 0
      |                 ELSE (abs(s_stat) - 1)::HUGEINT * (abs(s_stat) - 1)
      |                      * 18 * 1000000
      |                      // (n * (n - 1) * (2 * n + 5) - tieterm) END
      |            ELSE NULL END AS BIGINT) AS z2_ppm,
      |       CAST(CASE WHEN n * (n - 1) * (2 * n + 5) - tieterm > 0
      |                  AND abs(s_stat) > 1
      |                  AND (abs(s_stat) - 1)::HUGEINT * (abs(s_stat) - 1)
      |                      * 18 * 1000000
      |                      // (n * (n - 1) * (2 * n + 5) - tieterm) > 3841459
      |            THEN CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1
      |                 ELSE 0 END
      |            ELSE 0 END AS INT) AS trend,
      |       CAST(sen.sen_slope_e6 AS BIGINT) AS sen_slope_e6
      |FROM s JOIN ties ON ties.k = s.k JOIN sen ON sen.k = s.k
      |ORDER BY s.k""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.mannKendall(Tables.events(s, dir),
      col("event_type"), col("ts"))
      .orderBy("k")
  }

  // x219 — LEAD–LAG covariance scan: does the error series move BEFORE
  // the click series? Exact covariance of clicks(t) vs errors(t−ℓ) at
  // every lag ℓ ∈ [−7, 7]; `is_best` = |cov| argmax (ties → smaller
  // |ℓ|). Calendar-bound after two daily rollups.
  val x219 = Q(
    "x219_leadlag",
    """WITH a AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS a
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |b AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS b
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |l AS (SELECT CAST(unnest(range(-7, 8)) AS BIGINT) AS lag),
      |s AS (
      |  SELECT l.lag, a.a, b.b
      |  FROM l CROSS JOIN b JOIN a ON a.day = b.day + CAST(l.lag AS INTEGER)),
      |g AS (
      |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(a) AS HUGEINT) AS sa, CAST(sum(b) AS HUGEINT) AS sb,
      |         SUM(a::HUGEINT * b) AS sab
      |  FROM s GROUP BY 1),
      |c AS (
      |  SELECT lag, n,
      |         CASE WHEN n >= 2
      |              THEN (n * sab - sa * sb) * 1000000 // (n * (n::HUGEINT - 1))
      |              ELSE NULL END AS cov
      |  FROM g),
      |m AS (SELECT max(struct_pack(ac := abs(cov), nal := -abs(lag), nl := -lag)) AS mx
      |      FROM c WHERE cov IS NOT NULL)
      |SELECT lag, n AS n_days, CAST(cov AS BIGINT) AS cov_e6,
      |       CAST(CASE WHEN cov IS NOT NULL AND abs(cov) = (mx).ac
      |                  AND -abs(lag) = (mx).nal AND -lag = (mx).nl
      |            THEN 1 ELSE 0 END AS INT) AS is_best
      |FROM c, m ORDER BY lag""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    graft.ext.TimeSeries.leadLag(
      ev.where(col("event_type") === "click"), col("ts"),
      ev.where(col("event_type") === "error"), col("ts"), maxLag = 7)
      .orderBy("lag")
  }

  // x220 — TWO-SAMPLE χ² DRIFT per source vs the REST on log2 doc
  // length — the SIGNIFICANCE member of the drift trio (x187 KS max
  // deviation, x171 EMD transport). Both per-bin terms share one
  // numerator, so each bin is ONE exact floor-division; REST =
  // global − own from the same bin table.
  val x220 = Q(
    "x220_chi2_drift",
    """WITH base AS (
      |  SELECT source AS s,
      |         CAST(length(bin(length(text))) - 1 AS BIGINT) AS b
      |  FROM documents WHERE length(text) >= 1),
      |binned AS (SELECT s, b, CAST(count(*) AS BIGINT) AS n1
      |           FROM base GROUP BY 1, 2),
      |gb AS (SELECT b, CAST(sum(n1) AS BIGINT) AS cb FROM binned GROUP BY 1),
      |st AS (SELECT s, CAST(sum(n1) AS BIGINT) AS n_own FROM binned GROUP BY 1),
      |tot AS (SELECT CAST(sum(cb) AS BIGINT) AS nn FROM gb),
      |spine AS (
      |  SELECT st.s, st.n_own, gb.b, gb.cb, tot.nn,
      |         COALESCE(binned.n1, 0) AS n1
      |  FROM st CROSS JOIN gb CROSS JOIN tot
      |  LEFT JOIN binned ON binned.s = st.s AND binned.b = gb.b),
      |terms AS (
      |  SELECT s, n_own, nn,
      |         CASE WHEN nn > n_own THEN
      |              (n1::HUGEINT * nn - cb::HUGEINT * n_own)
      |              * (n1::HUGEINT * nn - cb::HUGEINT * n_own) * 1000000
      |              // (cb::HUGEINT * n_own * (nn - n_own))
      |              ELSE NULL END AS term
      |  FROM spine),
      |agg AS (
      |  SELECT s, n_own, nn, CAST(count(*) AS BIGINT) AS bins_occupied,
      |         CAST(sum(term) AS BIGINT) AS chi2_ppm
      |  FROM terms GROUP BY 1, 2, 3)
      |SELECT s, n_own, nn - n_own AS n_rest, bins_occupied, chi2_ppm,
      |       CAST(CASE WHEN bins_occupied >= 2
      |            THEN chi2_ppm // (bins_occupied - 1)
      |            ELSE NULL END AS BIGINT) AS chi2_per_dof_ppm,
      |       CAST(CASE WHEN bins_occupied >= 2
      |                  AND chi2_ppm // (bins_occupied - 1) > 2000000
      |            THEN 1 ELSE 0 END AS INT) AS drifted
      |FROM agg ORDER BY s""".stripMargin) { (s, dir) =>
    Profile.log2Chi2Drift(Tables.documents(s, dir),
      col("source"), length(col("text")))
      .orderBy("s")
  }

  // x221 — MEAN-AVERAGE-PRECISION retrieval eval: the third leg of the
  // triad (x84 recall@k is rank-blind, x206 MRR sees only the first
  // hit; AP integrates precision over EVERY relevant position).
  // Ranking = exact cosine top-10, relevant = same label; per-term and
  // final floors are the documented exact grid.
  val x221 = Q(
    "x221_map_eval",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |l AS (SELECT vec_id, label FROM embeddings),
      |ln AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label FROM l GROUP BY 1),
      |p AS (
      |  SELECT q.vec_id AS qid, e2.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(q.emb, e2.emb), 6) AS sim
      |  FROM e q, e e2 WHERE q.vec_id < 20 AND e2.vec_id <> q.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM p),
      |k AS (SELECT qid, neighbor_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10),
      |j AS (
      |  SELECT k.qid, k.rank, ql.label,
      |         CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS rel
      |  FROM k JOIN l nl ON nl.vec_id = k.neighbor_id
      |         JOIN l ql ON ql.vec_id = k.qid),
      |c AS (SELECT qid, label, rank, rel,
      |             CAST(sum(rel) OVER (PARTITION BY qid ORDER BY rank) AS BIGINT) AS relcum
      |      FROM j),
      |a AS (SELECT qid, label, CAST(sum(rel) AS BIGINT) AS n_rel_topk,
      |             CAST(sum(CASE WHEN rel = 1 THEN relcum * 1000000 // rank ELSE 0 END) AS BIGINT) AS apsum
      |      FROM c GROUP BY 1, 2)
      |SELECT a.qid, a.label, n_rel_topk,
      |       CAST(CASE WHEN least(n_label - 1, 10) > 0
      |            THEN apsum // least(n_label - 1, 10) ELSE NULL END AS BIGINT) AS ap_e6
      |FROM a JOIN ln ON ln.label = a.label
      |ORDER BY qid""".stripMargin) { (s, dir) =>
    Similarity.annMap(normalizedEmb(s, dir),
      Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
      (0L until 20L).toSeq, k = 10)
      .orderBy("qid")
  }

  // x222 — COHEN'S κ between two SIZE raters (char-bucket vs
  // ws-token-bucket, thresholds at the corpus thirds): do two cheap
  // size proxies agree beyond chance? (The langId-vs-annotation pair
  // is degenerate on this corpus — the heuristic is constant, κ = 0 by
  // construction; x104 carries that confusion matrix.) Fully rational —
  // one DIV.
  val x222 = Q(
    "x222_kappa_raters",
    """WITH p AS (
      |  SELECT CASE WHEN n_chars < 220 THEN 'S'
      |              WHEN n_chars < 380 THEN 'M' ELSE 'L' END AS a,
      |         CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
      |                    ELSE len(string_split_regex(trim(text), '\s+')) END) < 40
      |              THEN 'S'
      |              WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
      |                    ELSE len(string_split_regex(trim(text), '\s+')) END) < 68
      |              THEN 'M' ELSE 'L' END AS b
      |  FROM documents),
      |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2),
      |rm AS (SELECT a, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY 1),
      |cmm AS (SELECT b, CAST(sum(c) AS BIGINT) AS cc FROM cells GROUP BY 1),
      |pr AS (SELECT SUM(r::HUGEINT * cc) AS sum_rc FROM rm JOIN cmm ON rm.a = cmm.b),
      |d AS (SELECT CAST(sum(c) AS BIGINT) AS n,
      |             CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS n_agree
      |      FROM cells)
      |SELECT n, n_agree,
      |       CAST(n_agree::HUGEINT * 1000000 // n AS BIGINT) AS po_ppm,
      |       CAST(COALESCE(sum_rc, 0) * 1000000 // (n::HUGEINT * n) AS BIGINT) AS pe_ppm,
      |       CAST(CASE WHEN n::HUGEINT * n - COALESCE(sum_rc, 0) <> 0
      |            THEN (n::HUGEINT * n_agree - COALESCE(sum_rc, 0)) * 1000000
      |                 // (n::HUGEINT * n - COALESCE(sum_rc, 0))
      |            ELSE NULL END AS BIGINT) AS kappa_e6
      |FROM d CROSS JOIN pr""".stripMargin) { (s, dir) =>
    TextAnalysis.kappaAgreement(Tables.documents(s, dir),
      when(col("n_chars") < 220, "S").when(col("n_chars") < 380, "M")
        .otherwise("L"),
      when(TextAnalysis.wsTokenCount(col("text")) < 40, "S")
        .when(TextAnalysis.wsTokenCount(col("text")) < 68, "M")
        .otherwise("L"))
  }

  // x223 — McNEMAR'S paired test on two keep-filters (length gate vs
  // token-count gate): only the discordant cells matter; the
  // continuity-corrected statistic is one exact DIV.
  val x223 = Q(
    "x223_mcnemar",
    """WITH t AS (
      |  SELECT n_chars >= 200 AS ka,
      |         (CASE WHEN length(trim(text)) = 0 THEN 0
      |               ELSE len(string_split_regex(trim(text), '\s+')) END) >= 40 AS kb
      |  FROM documents),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
      |             CAST(sum(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
      |             CAST(sum(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |             CAST(sum(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS c
      |      FROM t)
      |SELECT n, n_both, n_neither, b, c,
      |       CAST(CASE WHEN b + c > 0 THEN
      |            CASE WHEN abs(b - c) <= 1 THEN 0
      |                 ELSE (abs(b - c) - 1)::HUGEINT * (abs(b - c) - 1)
      |                      * 1000000 // (b + c) END
      |            ELSE NULL END AS BIGINT) AS mcnemar_ppm,
      |       CAST(CASE WHEN b + c > 0 AND abs(b - c) > 1
      |                  AND (abs(b - c) - 1)::HUGEINT * (abs(b - c) - 1)
      |                      * 1000000 // (b + c) > 3841459
      |            THEN 1 ELSE 0 END AS INT) AS significant
      |FROM a""".stripMargin) { (s, dir) =>
    TextAnalysis.mcnemarPaired(Tables.documents(s, dir),
      col("n_chars") >= 200,
      TextAnalysis.wsTokenCount(col("text")) >= 40)
  }

  // x224 — MAX DRAWDOWN of each priority's daily revenue LEVEL against
  // its running peak (trough ties → earliest day). Calendar-bound
  // windows after one combinable daily rollup; DECIMAL(38) cent levels
  // ship as strings.
  val x224 = Q(
    "x224_drawdown",
    """WITH d AS (
      |  SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS day,
      |         SUM(CAST(round(o_totalprice * 100) AS BIGINT)::HUGEINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |w AS (SELECT k, day, y,
      |             max(y) OVER (PARTITION BY k ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
      |      FROM d),
      |dd AS (SELECT k, day, y, runmax,
      |              CASE WHEN runmax > 0
      |                   THEN CAST((runmax - y) * 1000000 // runmax AS BIGINT)
      |                   ELSE 0 END AS dd_ppm
      |       FROM w),
      |agg AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS n_days, max(runmax) AS peak,
      |         max(struct_pack(dd_ppm := dd_ppm,
      |                         negday := -(day - DATE '1970-01-01'),
      |                         ty := y)) AS mx
      |  FROM dd GROUP BY 1)
      |SELECT k, n_days,
      |       CAST(peak AS VARCHAR) AS peak_cents,
      |       CAST((mx).ty AS VARCHAR) AS trough_cents,
      |       (mx).dd_ppm AS max_dd_ppm,
      |       DATE '1970-01-01' + CAST(-(mx).negday AS INT) AS trough_day
      |FROM agg ORDER BY k""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.maxDrawdown(Tables.orders(s, dir),
      col("o_orderpriority"), col("o_orderdate"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .orderBy("k")
  }

  // x225 — KRUSKAL–WALLIS H across order priorities on price ranks —
  // the nonparametric member of the x214 ANOVA pair (heavy-tailed
  // money columns are exactly where rank tests earn their keep).
  // Midrank ties by integer algebra over the two-phase global rank
  // (the x208 discipline); χ²₄ @ 95% = 9.487729 in ppm.
  val x225 = Q(
    "x225_kruskal",
    """WITH b AS (
      |  SELECT o_orderpriority AS g,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |         o_orderkey AS id
      |  FROM orders),
      |r AS (SELECT g, v, CAST(row_number() OVER (ORDER BY v, id) AS BIGINT) AS rnk
      |      FROM b),
      |bv AS (SELECT v, CAST(count(*) AS BIGINT) AS n_v,
      |              CAST(min(rnk) AS BIGINT) AS minr
      |       FROM r GROUP BY v),
      |bv2 AS (SELECT v, 2 * (minr - 1) + n_v + 1 AS mid2,
      |               n_v::HUGEINT * n_v * n_v - n_v AS tie
      |        FROM bv),
      |pg AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
      |sg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
      |              SUM(c::HUGEINT * mid2) AS s2_g
      |       FROM pg JOIN bv2 USING (v) GROUP BY g),
      |tt AS (SELECT SUM(tie) AS sum_t FROM bv2),
      |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
      |               CAST(count(*) AS BIGINT) AS k_groups
      |        FROM sg),
      |hs AS (
      |  SELECT sum((d2 - d2 % n_g) // n_g) AS hsum FROM (
      |    SELECT n_g,
      |           (s2_g - n_g::HUGEINT * (n + 1))
      |           * (s2_g - n_g::HUGEINT * (n + 1)) * 3000000 AS d2
      |    FROM sg CROSS JOIN tot))
      |SELECT n, k_groups,
      |       CAST(hsum // (n::HUGEINT * (n + 1)) AS BIGINT) AS h_ppm,
      |       CAST(CASE WHEN n::HUGEINT * n * n - n - sum_t > 0
      |            THEN (hsum // (n::HUGEINT * (n + 1)))
      |                 * (n::HUGEINT * n * n - n)
      |                 // (n::HUGEINT * n * n - n - sum_t)
      |            ELSE NULL END AS BIGINT) AS h_tie_ppm,
      |       CAST(CASE WHEN n::HUGEINT * n * n - n - sum_t > 0
      |                  AND (hsum // (n::HUGEINT * (n + 1)))
      |                      * (n::HUGEINT * n * n - n)
      |                      // (n::HUGEINT * n * n - n - sum_t) > 9487729
      |            THEN 1 ELSE 0 END AS INT) AS significant
      |FROM tot CROSS JOIN hs CROSS JOIN tt""".stripMargin) { (s, dir) =>
    Profile.kruskalWallis(Tables.orders(s, dir),
      col("o_orderpriority"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
      col("o_orderkey"), chi2CritPpm = 9487729L)
  }

  // x226 — LABEL-PROPAGATION COMMUNITIES on the co-shingle graph: 2
  // synchronous plurality rounds (ties → smallest label), then the
  // community-size histogram. CC (x39) says "reachable"; LPA says
  // "densely attached" — one bridge edge no longer merges two families.
  // Round count is part of the contract: this graph collapses to one
  // community by round 4 (plurality flood), 2 rounds keep the
  // mesoscale structure visible (11 distinct sizes at sf0.01).
  val x226 = Q(
    "x226_label_prop",
    s"""WITH $coShingleEdgeCtes,
      |r0 AS (SELECT DISTINCT src AS node FROM e),
      |l0 AS (SELECT node, node AS lab FROM r0),
      |c1 AS (SELECT e.dst, r.lab, CAST(count(*) AS BIGINT) AS c
      |       FROM l0 r JOIN e ON e.src = r.node GROUP BY 1, 2),
      |l1 AS (SELECT dst AS node, -((max(struct_pack(c := c, nl := -lab))).nl) AS lab
      |       FROM c1 GROUP BY dst),
      |c2 AS (SELECT e.dst, r.lab, CAST(count(*) AS BIGINT) AS c
      |       FROM l1 r JOIN e ON e.src = r.node GROUP BY 1, 2),
      |l2 AS (SELECT dst AS node, -((max(struct_pack(c := c, nl := -lab))).nl) AS lab
      |       FROM c2 GROUP BY dst),
      |sz AS (SELECT lab, CAST(count(*) AS BIGINT) AS sz FROM l2 GROUP BY 1)
      |SELECT sz AS community_size, CAST(count(*) AS BIGINT) AS n_communities,
      |       CAST(sum(sz) AS BIGINT) AS n_nodes
      |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Graph.labelPropagation(
      Graph.coShingleEdges(
        Tables.documents(s, dir).where(col("doc_id") < 1500),
        col("doc_id"), col("text"), n = 3),
      rounds = 2)
      .orderBy("community_size")
  }

  // x227 — ACTIVE-DAY STREAK histogram (islands-and-gaps): longest
  // error-day streak per user via the rank-difference idiom, rolled to
  // the engagement survival curve. No self-join, no iteration.
  val x227 = Q(
    "x227_streaks",
    """WITH d AS (
      |  SELECT DISTINCT user_id AS k, CAST(ts AS DATE) AS day
      |  FROM events WHERE event_type = 'error'),
      |i AS (SELECT k, day,
      |             (day - DATE '1970-01-01')
      |             - row_number() OVER (PARTITION BY k ORDER BY day) AS island
      |      FROM d),
      |il AS (SELECT k, island, CAST(count(*) AS BIGINT) AS len FROM i GROUP BY 1, 2),
      |lg AS (SELECT k, CAST(max(len) AS BIGINT) AS longest FROM il GROUP BY 1),
      |h AS (SELECT longest, CAST(count(*) AS BIGINT) AS n_keys FROM lg GROUP BY 1)
      |SELECT longest AS longest_streak, n_keys,
      |       CAST(sum(n_keys) OVER (ORDER BY longest DESC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_keys_ge
      |FROM h ORDER BY longest_streak DESC""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.streakHistogram(
      Tables.events(s, dir).where(col("event_type") === "error"),
      col("user_id"), col("ts"))
      .orderBy(col("longest_streak").desc)
  }

  // x228 — BRIER SCORE with the Murphy decomposition per market
  // segment: train-half urgency rates become the ppm-floored
  // prediction, test-half outcomes score it — reliability (calibration
  // error) + uncertainty (class noise), every term one exact DIV.
  val x228 = Q(
    "x228_brier",
    """WITH b AS (
      |  SELECT c.c_mktsegment AS seg,
      |         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
      |         o.o_orderdate < TIMESTAMP '1998-01-01' AS tr
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      |trn AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_train,
      |               CAST(sum(y) AS BIGINT) AS x_train
      |        FROM b WHERE tr GROUP BY 1),
      |tr2 AS (SELECT *, CAST(x_train::HUGEINT * 1000000 // n_train AS BIGINT) AS p_ppm
      |        FROM trn),
      |te AS (SELECT seg, CAST(count(*) AS BIGINT) AS m_test,
      |              CAST(sum(y) AS BIGINT) AS x_test
      |       FROM b WHERE NOT tr GROUP BY 1),
      |j AS (SELECT te.seg, n_train, x_train, p_ppm, m_test, x_test,
      |             p_ppm::HUGEINT * m_test - x_test::HUGEINT * 1000000 AS dev,
      |             m_test::HUGEINT * m_test * 1000000 AS m2e6
      |      FROM te JOIN tr2 USING (seg))
      |SELECT seg, n_train, x_train, p_ppm, m_test, x_test,
      |       CAST(x_test::HUGEINT * 1000000 // m_test AS BIGINT) AS ybar_ppm,
      |       CAST(dev * dev // m2e6 AS BIGINT) AS rel_ppm,
      |       CAST(x_test::HUGEINT * (m_test - x_test) * 1000000
      |            // (m_test::HUGEINT * m_test) AS BIGINT) AS unc_ppm,
      |       CAST((dev * dev + x_test::HUGEINT * (m_test - x_test)
      |            * 1000000000000) // m2e6 AS BIGINT) AS brier_ppm
      |FROM j ORDER BY seg""".stripMargin) { (s, dir) =>
    Profile.brierDecomposition(
      Tables.orders(s, dir).join(Tables.customer(s, dir),
        col("c_custkey") === col("o_custkey")),
      col("c_mktsegment"),
      (col("o_orderpriority") === "1-URGENT").cast("long"),
      col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .orderBy("seg")
  }

  // x229 — COCHRAN–ARMITAGE trend: does the finished-order rate move
  // monotonically with priority? One df against x200's order-blind
  // χ²₄; per-score rollup + single-row integer algebra with the
  // documented two-stage floor.
  val x229 = Q(
    "x229_ca_trend",
    """WITH b AS (
      |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) - 1 AS w,
      |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |per AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w,
      |               CAST(sum(y) AS BIGINT) AS x_w
      |        FROM b GROUP BY 1),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS k_scores,
      |             CAST(sum(n_w) AS BIGINT) AS n,
      |             CAST(sum(x_w) AS BIGINT) AS x_pos,
      |             SUM(w::HUGEINT * x_w) AS swx,
      |             SUM(w::HUGEINT * n_w) AS swn,
      |             SUM(w::HUGEINT * w * n_w) AS sw2n
      |      FROM per),
      |c AS (SELECT *, n::HUGEINT * swx - x_pos::HUGEINT * swn AS d,
      |             n::HUGEINT * sw2n - swn * swn AS v
      |      FROM a),
      |z AS (SELECT *, CASE WHEN v > 0 AND x_pos > 0 AND x_pos < n THEN
      |             ((d * d - d * d % v) // v) * n * 1000000
      |             // (x_pos::HUGEINT * (n - x_pos))
      |             ELSE NULL END AS z2
      |      FROM c)
      |SELECT n, x_pos, k_scores, CAST(d AS VARCHAR) AS d_stat,
      |       CAST(z2 AS BIGINT) AS z2_ppm,
      |       CAST(CASE WHEN z2 > 3841459 THEN
      |            CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END
      |            ELSE 0 END AS INT) AS trend,
      |       CAST(CASE WHEN z2 > 3841459 THEN 1 ELSE 0 END AS INT) AS significant
      |FROM z""".stripMargin) { (s, dir) =>
    Profile.cochranArmitage(Tables.orders(s, dir),
      expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT) - 1"),
      (col("o_orderstatus") === "F").cast("long"))
  }

  // x230 — MARKOV STEADY STATE of the journey transition chain (x119's
  // matrix): where does the walk settle vs where the stream currently
  // spends time? e12 integer power iteration — parity at ANY iteration
  // count, 8 is the documented contract.
  private val markovIterCtes = (1 to 8).map { i =>
    val prev = if (i == 1) "p0" else s"p${i - 1}"
    s"""i$i AS (SELECT t AS state, CAST(sum(m::HUGEINT * cnt // tot) AS BIGINT) AS m
      |       FROM pc JOIN $prev ON $prev.state = pc.f GROUP BY t),
      |p$i AS (SELECT i$i.state, m FROM i$i JOIN st ON st.state = i$i.state)""".stripMargin
  }.mkString(",\n")
  val x230 = Q(
    "x230_markov_steady",
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id AS eid,
      |                  event_type AS et FROM events),
      |l AS (SELECT lag(et, 1) OVER (PARTITION BY user_id ORDER BY tus, eid) AS f,
      |             et AS t FROM e),
      |p AS (SELECT f, t, CAST(count(*) AS BIGINT) AS cnt
      |      FROM l WHERE f IS NOT NULL GROUP BY 1, 2),
      |tt AS (SELECT f, CAST(sum(cnt) AS BIGINT) AS tot FROM p GROUP BY 1),
      |pc AS (SELECT p.f, p.t, cnt, tot FROM p JOIN tt USING (f)),
      |st AS (SELECT DISTINCT f AS state FROM p),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM st),
      |p0 AS (SELECT state, 1000000000000 // ns AS m FROM st CROSS JOIN ns),
      |$markovIterCtes,
      |occ AS (SELECT event_type AS state, CAST(count(*) AS BIGINT) AS n_ev
      |        FROM events GROUP BY 1),
      |ot AS (SELECT CAST(sum(n_ev) AS BIGINT) AS n_all FROM occ)
      |SELECT p8.state, CAST(m // 1000000 AS BIGINT) AS pi_ppm,
      |       CAST(n_ev::HUGEINT * 1000000 // n_all AS BIGINT) AS occupancy_ppm
      |FROM p8 JOIN occ USING (state) CROSS JOIN ot
      |ORDER BY state""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.markovSteadyState(Tables.events(s, dir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      iters = 8)
      .orderBy("state")
  }

  // x231 — CUPED variance-reduced A/B readout: the pre-period count
  // absorbs between-user noise via the pooled θ; adjusted means on the
  // documented two-stage floor grid. Deterministic hash variant
  // (user_id parity), split mid-month.
  val x231 = Q(
    "x231_cuped",
    """WITH pu AS (
      |  SELECT user_id AS u, user_id % 2 AS variant,
      |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |mo AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(x::HUGEINT) AS sx,
      |              SUM(y::HUGEINT) AS sy, SUM(x::HUGEINT * x) AS sxx,
      |              SUM(x::HUGEINT * y) AS sxy
      |       FROM pu),
      |th AS (SELECT *, CASE WHEN n * sxx - sx * sx > 0 THEN
      |              (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
      |              ELSE NULL END AS theta
      |       FROM mo),
      |v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
      |             SUM(x::HUGEINT) AS sxv, SUM(y::HUGEINT) AS syv
      |      FROM pu GROUP BY 1)
      |SELECT variant, n_users,
      |       CAST(syv * 1000000 // n_users AS BIGINT) AS ybar_ppm,
      |       CAST((sxv * n - sx * n_users) * 1000000
      |            // (n_users::HUGEINT * n) AS BIGINT) AS xdev_ppm,
      |       CAST(CASE WHEN theta IS NULL THEN syv * 1000000 // n_users
      |            ELSE syv * 1000000 // n_users
      |                 - (theta * ((sxv * n - sx * n_users) * 1000000
      |                    // (n_users::HUGEINT * n)) // 1000000) END
      |            AS BIGINT) AS adj_ppm,
      |       CAST(theta AS BIGINT) AS theta_ppm
      |FROM v CROSS JOIN th ORDER BY variant""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.cupedLift(Tables.events(s, dir),
      col("user_id"), col("ts"), expr("user_id % 2"),
      to_timestamp(lit("2024-01-16")))
      .orderBy("variant")
  }

  // x232 — HITS authorities on the customer→part endorsement graph:
  // Kleinberg's mutual recursion in e12 integer fixed point with L1
  // normalization per half-step; 2 rounds is the documented contract
  // (parity holds at any count). Top-10 via TakeOrdered, never a
  // global rank window.
  // ORACLE NOTE (r16, sf1-wall rewrite — value-identical): the old h0
  // CTE gave every distinct src the uniform h=1e6 and joined it back
  // to e, so SUM(h) per dst was exactly COUNT(*)·1e6 — a1r now
  // computes that directly (one join fewer); `e` is MATERIALIZED so
  // the distinct edge set is paid once across the three propagation
  // rounds instead of re-running the lineitem⋈orders distinct per
  // round (767 s → see COVERAGE r16 for the measured wall).
  val x232 = Q(
    "x232_hits",
    """WITH e AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS src, l_partkey AS dst
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      |a1r AS (SELECT dst, COUNT(*)::HUGEINT * 1000000 AS a FROM e GROUP BY dst),
      |a1t AS (SELECT SUM(a) AS t FROM a1r),
      |a1 AS (SELECT dst, CAST(a * 1000000000000 // t AS BIGINT) AS a
      |       FROM a1r CROSS JOIN a1t),
      |h1r AS (SELECT src, SUM(a::HUGEINT) AS h FROM e JOIN a1 USING (dst) GROUP BY src),
      |h1t AS (SELECT SUM(h) AS t FROM h1r),
      |h1 AS (SELECT src, CAST(h * 1000000000000 // t AS BIGINT) AS h
      |       FROM h1r CROSS JOIN h1t),
      |a2r AS (SELECT dst, SUM(h::HUGEINT) AS a FROM e JOIN h1 USING (src) GROUP BY dst),
      |a2t AS (SELECT SUM(a) AS t FROM a2r),
      |a2 AS (SELECT dst, CAST(a * 1000000000000 // t AS BIGINT) AS a
      |       FROM a2r CROSS JOIN a2t)
      |SELECT dst AS node, a AS auth_e12,
      |       CAST(row_number() OVER (ORDER BY a DESC, dst) AS BIGINT) AS rank
      |FROM a2 ORDER BY a DESC, dst LIMIT 10""".stripMargin) { (s, dir) =>
    Graph.hits(
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst")),
      iters = 2, k = 10)
  }

  // x233 — MATRYOSHKA TRUNCATION agreement: keep only the first 16 of
  // 64 components (the MRL serving trick) — how much of the full top-10
  // survives? Exact set overlap per query over two audited brute scans.
  val x233 = Q(
    "x233_mrl_agreement",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |et AS (SELECT vec_id, emb[1:16] AS emb FROM e),
      |pf AS (
      |  SELECT q.vec_id AS qid, e2.vec_id AS nid,
      |         round(list_cosine_similarity(q.emb, e2.emb), 6) AS sim
      |  FROM e q, e e2 WHERE q.vec_id < 20 AND e2.vec_id <> q.vec_id),
      |rf AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      |       FROM pf),
      |kf AS (SELECT qid, nid FROM rf WHERE rank <= 10),
      |pt AS (
      |  SELECT q.vec_id AS qid, e2.vec_id AS nid,
      |         round(list_cosine_similarity(q.emb, e2.emb), 6) AS sim
      |  FROM et q, et e2 WHERE q.vec_id < 20 AND e2.vec_id <> q.vec_id),
      |rt AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      |       FROM pt),
      |kt AS (SELECT qid, nid FROM rt WHERE rank <= 10)
      |SELECT kf.qid,
      |       CAST(sum(CASE WHEN kt.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |       CAST(sum(CASE WHEN kt.nid IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // 10 AS BIGINT) AS overlap_ppm
      |FROM kf LEFT JOIN kt ON kt.qid = kf.qid AND kt.nid = kf.nid
      |GROUP BY kf.qid ORDER BY kf.qid""".stripMargin) { (s, dir) =>
    Similarity.truncationAgreement(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), (0L until 20L).toSeq, k = 10,
      dims = 16)
      .orderBy("qid")
  }

  // x234 — POSITION-BASED (U-shaped) attribution: opener and closer
  // earn 40% each, middles split 20% (floors per touch, remainder to
  // the first middle); 1 → 100%, 2 → 50/50. Credit is exactly 1e6 per
  // converting journey.
  val x234 = Q(
    "x234_position_attr",
    """WITH e AS (
      |  SELECT user_id, event_id AS ord, event_type AS typ, epoch_us(ts) AS tus
      |  FROM events),
      |b AS (SELECT *, CASE WHEN typ = 'purchase' THEN 1 ELSE 0 END AS is_conv FROM e),
      |j AS (
      |  SELECT *, coalesce(SUM(is_conv) OVER (PARTITION BY user_id ORDER BY tus, ord
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS journey
      |  FROM b),
      |jn AS (
      |  SELECT user_id, journey, MAX(is_conv) AS converted,
      |         CAST(SUM(1 - is_conv) AS BIGINT) AS n_touch
      |  FROM j GROUP BY 1, 2),
      |conv AS (SELECT * FROM jn WHERE converted = 1),
      |t AS (
      |  SELECT j.user_id, j.journey, j.typ,
      |         row_number() OVER (PARTITION BY j.user_id, j.journey ORDER BY j.tus, j.ord) AS touch_rank,
      |         c.n_touch
      |  FROM j JOIN conv c ON j.user_id = c.user_id AND j.journey = c.journey
      |  WHERE j.is_conv = 0),
      |cr AS (
      |  SELECT typ AS channel, user_id, journey,
      |         CASE WHEN n_touch = 1 THEN 1000000
      |              WHEN n_touch = 2 THEN 500000
      |              WHEN touch_rank = 1 OR touch_rank = n_touch THEN 400000
      |              ELSE 200000 // (n_touch - 2)
      |                   + CASE WHEN touch_rank = 2 THEN 200000 % (n_touch - 2)
      |                     ELSE 0 END END AS credit
      |  FROM t),
      |bc AS (
      |  SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      |         CAST(sum(credit) AS BIGINT) AS credit_e6
      |  FROM cr GROUP BY 1),
      |jc AS (
      |  SELECT channel, CAST(count(*) AS BIGINT) AS n_journeys
      |  FROM (SELECT DISTINCT channel, user_id, journey FROM cr) GROUP BY 1),
      |dir AS (SELECT CAST(count(*) AS BIGINT) AS n_direct FROM conv WHERE n_touch = 0),
      |drow AS (
      |  SELECT '(direct)' AS channel, CAST(0 AS BIGINT) AS n_touches,
      |         CAST(0 AS BIGINT) AS n_journeys, n_direct * 1000000 AS credit_e6
      |  FROM dir WHERE n_direct > 0)
      |SELECT channel, n_touches, coalesce(n_journeys, 0) AS n_journeys, credit_e6
      |FROM bc LEFT JOIN jc USING (channel)
      |UNION ALL SELECT channel, n_touches, n_journeys, credit_e6 FROM drow
      |ORDER BY channel""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.positionAttribution(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        convType = "purchase")
      .orderBy("channel")
  }

  // x235 — PINBALL backtest of the trailing-7-day p75 order-statistic
  // forecast — the proper score for upper-quantile capacity planning,
  // beside x217's WAPE point backtest. Both loss branches are single
  // integer products in e6.
  val x235 = Q(
    "x235_pinball",
    """WITH d AS (
      |  SELECT event_type AS k, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT k, day, c,
      |         lag(c, 1) OVER w AS l1, lag(c, 2) OVER w AS l2,
      |         lag(c, 3) OVER w AS l3, lag(c, 4) OVER w AS l4,
      |         lag(c, 5) OVER w AS l5, lag(c, 6) OVER w AS l6,
      |         lag(c, 7) OVER w AS l7
      |  FROM d WINDOW w AS (PARTITION BY k ORDER BY day)),
      |f AS (
      |  SELECT k, c, list_sort([l1, l2, l3, l4, l5, l6, l7])[6] AS fc
      |  FROM l WHERE l7 IS NOT NULL),
      |s AS (
      |  SELECT k, c, fc,
      |         CASE WHEN c >= fc THEN 750000 * (c - fc)
      |              ELSE 250000 * (fc - c) END AS loss_e6
      |  FROM f)
      |SELECT k, CAST(count(*) AS BIGINT) AS n_eval,
      |       CAST(sum(loss_e6) AS BIGINT) AS pinball_sum_e6,
      |       CAST(sum(loss_e6) // count(*) AS BIGINT) AS pinball_mean_e6
      |FROM s GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.pinballBacktest(Tables.events(s, dir),
      col("event_type"), col("ts"), qPct = 75)
      .orderBy("k")
  }

  // x236 — DIFFERENCE-IN-DIFFERENCES on the pre/post user frame: the
  // treatment's post−pre movement minus the control's; shared trends
  // cancel. Four exact ppm means, one documented difference.
  val x236 = Q(
    "x236_did",
    """WITH pu AS (
      |  SELECT user_id AS u, user_id % 2 AS t,
      |         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |arms AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
      |                CAST(SUM(x::HUGEINT) * 1000000 // count(*) AS BIGINT) AS pre_ppm,
      |                CAST(SUM(y::HUGEINT) * 1000000 // count(*) AS BIGINT) AS post_ppm
      |         FROM pu GROUP BY 1),
      |ta AS (SELECT n AS n_treat, pre_ppm AS pre_t_ppm, post_ppm AS post_t_ppm
      |       FROM arms WHERE t = 1),
      |ca AS (SELECT n AS n_ctrl, pre_ppm AS pre_c_ppm, post_ppm AS post_c_ppm
      |       FROM arms WHERE t = 0)
      |SELECT n_treat, n_ctrl, pre_t_ppm, post_t_ppm, pre_c_ppm, post_c_ppm,
      |       (post_t_ppm - pre_t_ppm) - (post_c_ppm - pre_c_ppm) AS did_ppm
      |FROM ta CROSS JOIN ca""".stripMargin) { (s, dir) =>
    graft.ops.EventAnalytics.diffInDiff(Tables.events(s, dir),
      col("user_id"), col("ts"), expr("user_id % 2"),
      to_timestamp(lit("2024-01-16")))
  }

  // x237 — CAPTURE–RECAPTURE census: two INDEPENDENT deterministic
  // spot-audits (length-hash samplers — quality gates like short-doc vs
  // terse-doc are nested, which biases Chapman to the seen union; the
  // hash pair behaves independently) → Chapman's bias-corrected total
  // estimates the full population from the overlap. One scan-side
  // 3-counter aggregate.
  val x237 = Q(
    "x237_capture_recapture",
    """WITH t AS (
      |  SELECT n_chars % 7 = 0 AS a,
      |         length(trim(text)) % 5 = 0 AS b
      |  FROM documents),
      |g AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |             CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |             CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      |      FROM t)
      |SELECT n_a, n_b, n_both, n_a + n_b - n_both AS n_seen,
      |       CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN
      |            (n_a + 1)::HUGEINT * (n_b + 1) // (n_both + 1) - 1
      |            ELSE NULL END AS BIGINT) AS chapman_est,
      |       CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN
      |            greatest((n_a + 1)::HUGEINT * (n_b + 1) // (n_both + 1) - 1
      |                     - (n_a + n_b - n_both), 0)
      |            ELSE NULL END AS BIGINT) AS unseen_est
      |FROM g""".stripMargin) { (s, dir) =>
    TextAnalysis.captureRecapture(Tables.documents(s, dir),
      pmod(col("n_chars"), lit(7L)) === 0L,
      pmod(length(trim(col("text"))).cast("long"), lit(5L)) === 0L)
  }

  // x238 — GOOD–TURING coverage per source: unseen-mass f1/N in exact
  // ppm and the smoothed singleton worth r*1 = 2·f2/f1 — the
  // what-mass-is-missing companion to x170's how-many-types-missing.
  val x238 = Q(
    "x238_good_turing",
    """WITH toks AS (
      |  SELECT source,
      |         unnest(list_filter(string_split_regex(trim(text), '\s+'), c -> c <> '')) AS tok
      |  FROM documents),
      |tc AS (SELECT source AS s, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
      |ff AS (
      |  SELECT s, CAST(sum(c) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_distinct,
      |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM tc GROUP BY 1)
      |SELECT s, n_tokens, n_distinct, f1, f2,
      |       CAST(f1::HUGEINT * 1000000 // n_tokens AS BIGINT) AS unseen_ppm,
      |       CAST(CASE WHEN f1 > 0 THEN 2 * f2::HUGEINT * 1000000 // f1
      |            ELSE NULL END AS BIGINT) AS r1_star_e6
      |FROM ff ORDER BY s""".stripMargin) { (s, dir) =>
    TextAnalysis.goodTuring(Tables.documents(s, dir),
      col("source"), col("text"))
      .orderBy("s")
  }

  // x239 — HEAPS (vocabulary-growth) CURVE: types vs tokens at 10
  // doc-id-ordered corpus prefixes; each type charges its FIRST bucket,
  // cumsums ride the 10-row rollup. The scaling-decision curve.
  val x239 = Q(
    "x239_heaps_curve",
    """WITH r AS (
      |  SELECT doc_id, text, (row_number() OVER (ORDER BY doc_id) - 1) AS p
      |  FROM documents),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
      |wb AS (SELECT doc_id, text, p * 10 // n AS bucket FROM r CROSS JOIN nn),
      |pd AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
      |  FROM wb GROUP BY 1),
      |fs AS (
      |  SELECT tok, CAST(min(bucket) AS BIGINT) AS fb FROM (
      |    SELECT bucket,
      |           unnest(list_filter(string_split_regex(trim(text), '\s+'), c -> c <> '')) AS tok
      |    FROM wb) GROUP BY 1),
      |nt AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY 1),
      |j AS (SELECT pd.bucket, n_docs, n_tokens, coalesce(n_new, 0) AS n_new
      |      FROM pd LEFT JOIN nt USING (bucket)),
      |cumt AS (
      |  SELECT bucket,
      |         SUM(n_docs) OVER wo AS n_docs_cum,
      |         SUM(n_tokens) OVER wo AS n_tokens_cum,
      |         SUM(n_new) OVER wo AS n_types_cum
      |  FROM j WINDOW wo AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING))
      |SELECT bucket, CAST(n_docs_cum AS BIGINT) AS n_docs_cum,
      |       CAST(n_tokens_cum AS BIGINT) AS n_tokens_cum,
      |       CAST(n_types_cum AS BIGINT) AS n_types_cum,
      |       CAST(CASE WHEN n_tokens_cum > 0
      |            THEN n_types_cum::HUGEINT * 1000000 // n_tokens_cum
      |            ELSE NULL END AS BIGINT) AS ttr_ppm
      |FROM cumt ORDER BY bucket""".stripMargin) { (s, dir) =>
    Vocab.vocabularyGrowth(Tables.documents(s, dir),
      col("doc_id"), col("text"), buckets = 10)
      .orderBy("bucket")
  }

  // x240 — KENDALL τ-b (signed square, the no-sqrt discipline) between
  // daily order count and daily revenue per priority: ordinal
  // association where covariance assumes linearity. Calendar² pair
  // join with the mannKendall refusal.
  val x240 = Q(
    "x240_kendall_tau",
    """WITH d AS (
      |  SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS c,
      |         SUM(CAST(round(o_totalprice * 100) AS BIGINT)::HUGEINT) AS m
      |  FROM orders GROUP BY 1, 2),
      |p AS (
      |  SELECT a.k,
      |         (CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END)
      |         * (CASE WHEN b.m > a.m THEN 1 WHEN b.m < a.m THEN -1 ELSE 0 END) AS cd
      |  FROM d a JOIN d b ON a.k = b.k AND a.day < b.day),
      |s AS (SELECT k, CAST(sum(cd) AS BIGINT) AS s_cd FROM p GROUP BY 1),
      |t1 AS (SELECT k, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1,
      |              CAST(sum(t) AS BIGINT) AS n
      |       FROM (SELECT k, c, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1, 2)
      |       GROUP BY k),
      |t2 AS (SELECT k, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2
      |       FROM (SELECT k, m, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1, 2)
      |       GROUP BY k)
      |SELECT s.k AS k, n AS n_days, s_cd,
      |       CAST(CASE WHEN (n * (n - 1) // 2 - n1) > 0
      |                  AND (n * (n - 1) // 2 - n2) > 0 THEN
      |            (CASE WHEN s_cd > 0 THEN 1 WHEN s_cd < 0 THEN -1 ELSE 0 END)
      |            * (s_cd::HUGEINT * s_cd * 1000000
      |               // ((n * (n - 1) // 2 - n1)::HUGEINT
      |                  * (n * (n - 1) // 2 - n2)))
      |            ELSE NULL END AS BIGINT) AS tau2_signed_ppm
      |FROM s JOIN t1 USING (k) JOIN t2 USING (k) ORDER BY k""".stripMargin) { (s, dir) =>
    graft.ext.TimeSeries.kendallTau(Tables.orders(s, dir),
      col("o_orderpriority"), col("o_orderdate"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .orderBy("k")
  }

  // x241 — PERCEPTUAL-HASH NEAR-DUP + RE-ENCODE RECALL PROBE over the
  // image media rows: 60-bit byte-sampled dHash (one scan-side
  // projection, zero explode), then banded 4×15-bit Hamming pairs —
  // pigeonhole-EXACT for hamming ≤ 3, so the banded equi-join IS the
  // all-pairs answer. The corpus is augmented with deterministic
  // re-encoded variants (every 10th image, first byte perturbed,
  // hamming ≤ 1 by the length guards — reencodeVariants' contract), so
  // the ≤ 3 dedup-decision path returns a NON-EMPTY planted-positive
  // set at every corpus size — the recall self-calibration a
  // perceptual-dedup deployment ships with. The multimodal twin of
  // x8's text SimHash, reusing its pairing machinery verbatim. Bytes
  // compare via their 2-char uppercase hex image on both engines
  // (lexicographic = numeric for single bytes), so parity holds for
  // arbitrary (non-ASCII, non-UTF-8) payloads.
  private val phashBitsSql: String = (0 until 6).flatMap { i =>
    (0 until 10).map { j =>
      val l = (i * 11 + j) * 37
      val r = (i * 11 + j + 1) * 37
      val w = 1L << (i * 10 + j)
      s"(CASE WHEN substr(hx, 1 + 2 * ($l % n), 2) < substr(hx, 1 + 2 * ($r % n), 2) THEN $w ELSE 0 END)"
    }
  }.mkString("\n      + ")
  val x241 = Q(
    "x241_phash_neardup",
    s"""WITH m0 AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 1),
      |v AS (
      |  SELECT media_id + 1000000000 AS media_id, '7E' || substr(hx, 3) AS hx, n
      |  FROM m0 WHERE media_id % 10 = 0 AND n >= 67 AND n % 37 <> 0),
      |m AS (SELECT * FROM m0 UNION ALL SELECT * FROM v),
      |h AS (SELECT media_id, CAST($phashBitsSql AS BIGINT) AS phash FROM m),
      |e AS (
      |  SELECT media_id, phash, blk, (phash >> (blk * 15)) & 32767 AS key
      |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
      |g AS (SELECT *, count(*) OVER (PARTITION BY blk, key) AS bn FROM e),
      |f AS (SELECT * FROM g WHERE bn <= 65536),
      |p AS (
      |  SELECT DISTINCT l.media_id AS a, r.media_id AS b,
      |         CAST(bit_count(xor(l.phash, r.phash)) AS INT) AS hamming
      |  FROM f l JOIN f r ON l.blk = r.blk AND l.key = r.key
      |                   AND l.media_id < r.media_id)
      |SELECT a, b, hamming FROM p WHERE hamming <= 3
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF()
    val imgs = media.where(col("kind") === "image")
      .select(col("media_id"), col("payload"))
    val withPlanted = imgs.unionByName(Multimodal.reencodeVariants(imgs))
    Multimodal.phashPairs(
        Multimodal.dHash60(withPlanted, col("media_id"), col("payload")))
      .orderBy("a", "b")
  }

  // x242 — PHASH BAND-SELECTIVITY AUDIT over ALL media kinds: the
  // Hamming-distance histogram of every band-sharing candidate pair
  // (maxHamming = 60 disables the dup filter). This audits the BANDS
  // themselves — how many candidate comparisons each 15-bit block
  // admits, and how far apart they really are (birthday collisions on
  // 32768-key blocks put the mass at hamming ≈ 30; a corpus of true
  // near-dups would pile mass at ≤ 3). The LSH-calibration companion
  // (x194) for the perceptual family; candidate volume is the banded
  // join's output, never all-pairs.
  val x242 = Q(
    "x242_phash_band_audit",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE octet_length(encode(text)) >= 1),
      |h AS (SELECT media_id, CAST($phashBitsSql AS BIGINT) AS phash FROM m),
      |e AS (
      |  SELECT media_id, phash, blk, (phash >> (blk * 15)) & 32767 AS key
      |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
      |g AS (SELECT *, count(*) OVER (PARTITION BY blk, key) AS bn FROM e),
      |f AS (SELECT * FROM g WHERE bn <= 65536),
      |p AS (
      |  SELECT DISTINCT l.media_id AS a, r.media_id AS b,
      |         CAST(bit_count(xor(l.phash, r.phash)) AS INT) AS hamming
      |  FROM f l JOIN f r ON l.blk = r.blk AND l.key = r.key
      |                   AND l.media_id < r.media_id)
      |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
      |FROM p GROUP BY 1 ORDER BY hamming""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF()
    Multimodal.phashPairs(
        Multimodal.dHash60(media, col("media_id"), col("payload")),
        maxHamming = 60)
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
      .orderBy("hamming")
  }

  // x243 — VIDEO FRAME-ALIGNED NEAR-DUP + RE-UPLOAD RECALL PROBE over
  // the video media rows: the two r12 multimodal pieces composed —
  // frameSamplePlan's deterministic frame grid × a per-frame 60-bit
  // dHash (frame enters as a phase on the byte sampling; fused into
  // ONE scan + one bounded Generate, no plan-to-payload self-join),
  // then x8's banded Hamming machinery bucketed on (frame_idx, blk,
  // key) so the equi-join pairs ONLY same-position frames, and a
  // >= 2-frame vote so a single coincidental frame collision can
  // never mark two videos as dups. The corpus is augmented with
  // deterministic re-upload twins (every 7th video, payload
  // unchanged, media_id + 2e9): every sampled frame of a twin hashes
  // identically, so the vote path returns a NON-EMPTY
  // planted-positive set at every corpus size (ham_max = 0 rows).
  private val frameBitsSql: String = (0 until 6).flatMap { i =>
    (0 until 10).map { j =>
      val l = (i * 11 + j) * 37
      val r = (i * 11 + j + 1) * 37
      val w = 1L << (i * 10 + j)
      s"(CASE WHEN substr(hx, 1 + 2 * ((fi * 101 + $l) % n), 2) < substr(hx, 1 + 2 * ((fi * 101 + $r) % n), 2) THEN $w ELSE 0 END)"
    }
  }.mkString("\n      + ")
  val x243 = Q(
    "x243_video_neardup",
    s"""WITH m0 AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 2 AND octet_length(encode(text)) >= 1),
      |tw AS (
      |  SELECT media_id + 2000000000 AS media_id, hx, n
      |  FROM m0 WHERE media_id % 7 = 0),
      |m AS (SELECT * FROM m0 UNION ALL SELECT * FROM tw),
      |fr AS (
      |  SELECT media_id, hx, n, 1 + n % 30 AS nf,
      |         (1 + n % 30 + 7) // 8 AS stride FROM m),
      |f AS (
      |  SELECT media_id, hx, n, CAST(unnest(range(0, nf, stride)) AS INT) AS fi
      |  FROM fr),
      |h AS (SELECT media_id, fi, CAST($frameBitsSql AS BIGINT) AS phash FROM f),
      |e AS (
      |  SELECT media_id, fi, phash, blk, (phash >> (blk * 15)) & 32767 AS key
      |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
      |g AS (SELECT *, count(*) OVER (PARTITION BY fi, blk, key) AS bn FROM e),
      |ff AS (SELECT * FROM g WHERE bn <= 65536),
      |p AS (
      |  SELECT DISTINCT l.media_id AS a, r.media_id AS b, l.fi,
      |         CAST(bit_count(xor(l.phash, r.phash)) AS INT) AS hamming
      |  FROM ff l JOIN ff r ON l.fi = r.fi AND l.blk = r.blk AND l.key = r.key
      |                      AND l.media_id < r.media_id),
      |pm AS (SELECT * FROM p WHERE hamming <= 3)
      |SELECT a, b, CAST(count(*) AS BIGINT) AS n_matched,
      |       CAST(max(hamming) AS INT) AS ham_max
      |FROM pm GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF()
    val vids = media.where(col("kind") === "video")
      .select(col("media_id"), col("kind"), col("payload"))
    val withTwins = vids.unionByName(Multimodal.reuploadTwins(vids))
    Multimodal.videoNeardupPairs(Multimodal.videoFrameDHash(withTwins))
      .orderBy("a", "b")
  }

  // x244 — AUDIO SILENCE-TRIM PLAN over the audio media rows: the VAD
  // pre-filter an ASR/TTS curation pipeline runs before spending
  // decode budget — 16 energy windows from 64 evenly-spread sampled
  // payload bytes (the decode seam's stand-in; a real pipeline sums
  // |PCM| per window off the FakeDecoder seam), silent = energy <= 260,
  // emit first/last voiced window (NULL = all-silent, drop the row),
  // silent count, total energy. ONE scan-side projection on the Spark
  // side (static energy columns + coalesce ladders, zero explode /
  // exchange); the oracle recomputes the identical integers through a
  // window spine.
  private val audioByteSql: (String) => String = (i: String) =>
    s"(('0x' || substr(hx, 1 + 2 * ((n::BIGINT * ($i)) // 64), 2))::INT)"
  val x244 = Q(
    "x244_audio_trim",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= 1),
      |w AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS c),
      |e AS (
      |  SELECT media_id, c,
      |         ${(0 until 4).map(j => audioByteSql(s"c * 4 + $j")).mkString("\n         + ")} AS energy
      |  FROM m CROSS JOIN w)
      |SELECT media_id,
      |       CAST(min(CASE WHEN energy > 260 THEN c END) AS INT) AS first_voiced,
      |       CAST(max(CASE WHEN energy > 260 THEN c END) AS INT) AS last_voiced,
      |       CAST(sum(CASE WHEN energy <= 260 THEN 1 ELSE 0 END) AS INT) AS n_silent,
      |       CAST(sum(energy) AS BIGINT) AS energy_q
      |FROM e GROUP BY 1
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF()
    Multimodal.audioTrimPlan(media).orderBy("media_id")
  }

  // x245 — BORDA RANK AGGREGATION: the positional voting rule a
  // judge-leaderboard pipeline runs over per-prompt rankings, here
  // over the orders fixture (each order ranks the part brands it
  // bought by pooled revenue; a brand ranked r-th of k earns k-r
  // points; borda_ppm normalizes by the points a perfect always-first
  // candidate would take). Candidates collapse to one entry per
  // ballot BEFORE ranking; singleton ballots carry no ordinal signal
  // (NULL ppm, never a division by zero). One hash(ballot) exchange
  // shared by the collapse + both windows, then a candidate-level
  // rollup.
  val x245 = Q(
    "x245_borda",
    """WITH li AS (
      |  SELECT l_orderkey AS ballot, p_brand AS cand,
      |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS s,
      |         l_linenumber AS t
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |pb AS (
      |  SELECT ballot, cand, CAST(sum(s) AS BIGINT) AS s, min(t) AS t
      |  FROM li GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY ballot ORDER BY s DESC, t) AS r,
      |         count(*) OVER (PARTITION BY ballot) AS k
      |  FROM pb)
      |SELECT cand AS brand, CAST(count(*) AS BIGINT) AS n_ballots,
      |       CAST(sum(k - r) AS BIGINT) AS borda_points,
      |       CAST(sum(k - 1) AS BIGINT) AS max_points,
      |       CASE WHEN sum(k - 1) > 0
      |            THEN CAST(sum(k - r) * 1000000 // sum(k - 1) AS BIGINT) END AS borda_ppm
      |FROM r GROUP BY 1
      |ORDER BY brand""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
    Relevance.bordaAggregate(li, col("l_orderkey"), col("p_brand"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long"),
        col("l_linenumber"))
      .select(col("cand").as("brand"), col("n_ballots"),
        col("borda_points"), col("max_points"), col("borda_ppm"))
      .orderBy("brand")
  }

  // x246 — PERCEPTUAL NEAR-DUP CLUSTERS over the image corpus: x241's
  // banded hamming<=3 pairs closed into connected components (the x39
  // min-label/pointer-doubling machinery), so a re-encode FAMILY
  // collapses to one canonical cluster id — the keep-one-per-cluster
  // decision image dedup actually ships. Same planted re-encode
  // variants as x241, so every cluster the probe plants contains its
  // (original, variant) pair at any corpus size.
  val x246 = Q(
    "x246_phash_clusters",
    s"""WITH RECURSIVE m0 AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 1),
      |vv AS (
      |  SELECT media_id + 1000000000 AS media_id, '7E' || substr(hx, 3) AS hx, n
      |  FROM m0 WHERE media_id % 10 = 0 AND n >= 67 AND n % 37 <> 0),
      |m AS (SELECT * FROM m0 UNION ALL SELECT * FROM vv),
      |h AS (SELECT media_id, CAST($phashBitsSql AS BIGINT) AS phash FROM m),
      |e AS (
      |  SELECT media_id, phash, blk, (phash >> (blk * 15)) & 32767 AS key
      |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
      |g AS (SELECT *, count(*) OVER (PARTITION BY blk, key) AS bn FROM e),
      |f AS (SELECT * FROM g WHERE bn <= 65536),
      |p AS (
      |  SELECT DISTINCT l.media_id AS a, r.media_id AS b
      |  FROM f l JOIN f r ON l.blk = r.blk AND l.key = r.key
      |                   AND l.media_id < r.media_id
      |  WHERE bit_count(xor(l.phash, r.phash)) <= 3),
      |edges AS (SELECT a AS u, b AS w FROM p UNION ALL SELECT b, a FROM p),
      |reach(id, label) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e2.u, r2.label FROM edges e2 JOIN reach r2 ON e2.w = r2.id)
      |SELECT id AS media_id, min(label) AS cluster
      |FROM reach GROUP BY id
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF()
    val imgs = media.where(col("kind") === "image")
      .select(col("media_id"), col("payload"))
    val withPlanted = imgs.unionByName(Multimodal.reencodeVariants(imgs))
    Dedup.connectedComponents(
        Multimodal.phashPairs(
          Multimodal.dHash60(withPlanted, col("media_id"), col("payload"))))
      .select(col("doc_id").as("media_id"), col("cluster"))
      .orderBy("media_id")
  }

  // x247 — AUDIO VOICED-RUN SEGMENTATION: the operator after x244's
  // VAD — one row per maximal run of voiced windows (the chunks an ASR
  // pass actually transcribes; in-row silence splits the row into
  // separately-billable segments). Same energy grid and threshold as
  // x244 (shared helper — the plans cannot drift), runs via
  // gaps-and-islands: bounded 16-row explode, island = c − row_number,
  // one hash(media_id) exchange serving both the window and the
  // rollup.
  val x247 = Q(
    "x247_audio_segments",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= 1),
      |w AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS c),
      |e AS (
      |  SELECT media_id, c,
      |         ${(0 until 4).map(j => audioByteSql(s"c * 4 + $j")).mkString("\n         + ")} AS energy
      |  FROM m CROSS JOIN w),
      |v AS (SELECT * FROM e WHERE energy > 260),
      |r AS (
      |  SELECT *, c - row_number() OVER (PARTITION BY media_id ORDER BY c) AS island
      |  FROM v)
      |SELECT media_id, CAST(min(c) AS INT) AS seg_start,
      |       CAST(max(c) AS INT) AS seg_end,
      |       CAST(count(*) AS INT) AS n_windows,
      |       CAST(sum(energy) AS BIGINT) AS seg_energy
      |FROM r GROUP BY media_id, island
      |ORDER BY media_id, seg_start""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF()
    Multimodal.audioSegments(media).orderBy("media_id", "seg_start")
  }

  // x248 — COPELAND PAIRWISE-PREFERENCE LEADERBOARD: the
  // Condorcet-style companion to x245 over the SAME collapsed ballots
  // — candidate X beats Y when X outranks Y on a strict majority of
  // the ballots both appear on; copeland = beats − losses. The
  // leaderboard rule for pairwise preference data; when it disagrees
  // with x245's Borda order, the audit has found a preference cycle.
  // Within-ballot self-join bounded at k² per ballot; pair and
  // candidate rollups live at brand² / brand cardinality.
  val x248 = Q(
    "x248_copeland",
    """WITH li AS (
      |  SELECT l_orderkey AS ballot, p_brand AS cand,
      |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS s,
      |         l_linenumber AS t
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |pb AS (
      |  SELECT ballot, cand, CAST(sum(s) AS BIGINT) AS s, min(t) AS t
      |  FROM li GROUP BY 1, 2),
      |duel AS (
      |  SELECT l.cand AS a, r.cand AS b,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN l.s > r.s OR (l.s = r.s AND l.t < r.t)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS a_wins
      |  FROM pb l JOIN pb r ON l.ballot = r.ballot AND l.cand < r.cand
      |  WHERE NOT (l.s = r.s AND l.t = r.t)
      |  GROUP BY 1, 2),
      |verdicts AS (
      |  SELECT a, b, CASE WHEN a_wins * 2 > n THEN 1
      |                    WHEN a_wins * 2 < n THEN -1 ELSE 0 END AS verdict
      |  FROM duel),
      |sides AS (
      |  SELECT a AS cand, verdict FROM verdicts
      |  UNION ALL SELECT b, -verdict FROM verdicts)
      |SELECT cand AS brand, CAST(count(*) AS BIGINT) AS n_opponents,
      |       CAST(sum(CASE WHEN verdict = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_beats,
      |       CAST(sum(CASE WHEN verdict = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_losses,
      |       CAST(sum(CASE WHEN verdict = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
      |       CAST(sum(CASE WHEN verdict = 1 THEN 1 ELSE 0 END)
      |            - sum(CASE WHEN verdict = -1 THEN 1 ELSE 0 END) AS BIGINT) AS copeland
      |FROM sides GROUP BY 1
      |ORDER BY brand""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
    Relevance.copelandAggregate(li, col("l_orderkey"), col("p_brand"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long"),
        col("l_linenumber"))
      .select(col("cand").as("brand"), col("n_opponents"), col("n_beats"),
        col("n_losses"), col("n_ties"), col("copeland"))
      .orderBy("brand")
  }

  // x249 — DISTRIBUTION-MATCHED SAMPLING: make the pool sources look
  // like the target sources along the log2-length profile — per
  // stratum, quota = the target's count there; the pool contributes
  // its quota rows with the smallest deterministic hash (the x48 pick
  // rule). The pretraining-curation move when mixing corpora whose
  // length profiles differ: naive mixing drifts the blend toward the
  // bigger source. Broadcast quota table (<= 63 bins), one
  // hash(stratum) exchange for the rank window, quota filter rides it.
  val x249 = Q(
    "x249_dist_match",
    """WITH d AS (
      |  SELECT doc_id, source, length(bin(n_chars)) - 1 AS b
      |  FROM documents WHERE n_chars >= 1),
      |q AS (SELECT b, CAST(count(*) AS BIGINT) AS quota FROM d
      |      WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
      |p AS (SELECT doc_id, b FROM d
      |      WHERE source NOT IN ('src0', 'src1', 'src2')),
      |r AS (
      |  SELECT doc_id, b,
      |         row_number() OVER (PARTITION BY b
      |           ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
      |                    doc_id) AS rn
      |  FROM p)
      |SELECT r.doc_id, CAST(r.b AS BIGINT) AS b, CAST(r.rn AS BIGINT) AS matched_rank
      |FROM r JOIN q USING (b) WHERE r.rn <= q.quota
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tgtSources = Seq("src0", "src1", "src2")
    val d = Tables.documents(s, dir).where(col("n_chars") >= 1)
      .select(col("doc_id"), col("source"),
        (length(bin(col("n_chars"))) - 1).cast("long").as("b"))
    Sampling.distributionMatch(
        d.where(col("source").isin(tgtSources: _*)),
        d.where(!col("source").isin(tgtSources: _*)).select("doc_id", "b"),
        col("b"), col("doc_id"))
      .select(col("doc_id"), col("stratum").as("b"), col("matched_rank"))
      .orderBy("doc_id")
  }

  // x250 — AUDIO CROSS-ROW NEAR-DUP: window-aligned vote over the
  // quantized energy-profile signature (the chromaprint analog on the
  // x244 grid — shared helper, so the near-dup view of the signal can
  // never drift from the VAD's). Completes the perceptual-dedup
  // matrix: image x241, video x243, audio THIS. Per window, the energy
  // integer-divides into coarse levels; two recordings pair when >= 12
  // of 16 window positions sit within +-1 level (the probe explodes
  // exactly {q-1, q, q+1}, so a qualifying window matches ONCE — no
  // dedup needed before the vote). The corpus is augmented with
  // deterministic re-encode variants (every 10th audio row, first byte
  // perturbed — only window 0's energy can change since offset
  // (n*i) DIV 64 = 0 forces i = 0 at n >= 67, so >= 15 of 16 windows
  // still match and every planted twin is GUARANTEED recalled —
  // non-vacuous at any corpus size). Hot (window, level) buckets drop
  // under the loud maxBucket contract (silence floods collapse to one
  // bucket and refuse rather than detonate — tripwire-probed).
  // ROUND 16 — STAR/CLIQUE FORM (the skew receipt's find): the output
  // is the identical-profile-collapsed form, not the raw pair
  // expansion. kind='family' rows are (rep, member) star edges inside
  // a family of IDENTICAL profiles (rep = min media_id; n_matched =
  // profile size, dq_max = 0 — every window of two identical profiles
  // matches at distance 0 by definition); kind='pair' rows are the
  // capless >= 12-of-16 vote over the DISTINCT-profile
  // representatives. VALUE IDENTITY with the old pair table (x6-
  // rewrite style): expanding each family's star into its clique
  // (members pairwise, (sig_n, 0)) plus each rep pair across its two
  // families' member cross product (identical profiles ⇒ identical
  // votes, so every cross pair inherits the rep vote verbatim)
  // reproduces the old output row-for-row — audioNeardupPairs IS that
  // expansion and ExtSpec pins star-expansion == brute-force pairs.
  // The star form is what a 100 TB consumer wants: a 210k-doc flood
  // family costs O(family) rows here, where its pair expansion is
  // O(family²) BY DEFINITION of the answer (the old contract's 206 s
  // skew wall priced exactly that).
  // ORACLE NOTE: the oracle is the same collapse — capless vote over
  // representatives (the engine's maxBucket guard bounds CANDIDATE
  // GENERATION only; on the gate corpora no rep bucket approaches the
  // cap, occupancy OBSERVED by ExtSpec) plus the family stars.
  val x250 = Q(
    "x250_audio_neardup",
    s"""WITH m0 AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= 1),
      |v AS (
      |  SELECT media_id + 1000000000 AS media_id, '7E' || substr(hx, 3) AS hx, n
      |  FROM m0 WHERE media_id % 10 = 0 AND n >= 67 AND n % 37 <> 0),
      |m AS (SELECT * FROM m0 UNION ALL SELECT * FROM v),
      |w AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS c),
      |e AS (
      |  SELECT media_id, c,
      |         ${(0 until 4).map(j => audioByteSql(s"c * 4 + $j")).mkString("\n         + ")} AS energy
      |  FROM m CROSS JOIN w),
      |p AS MATERIALIZED (SELECT media_id, c, energy // 4 AS q FROM e),
      |sig AS MATERIALIZED (SELECT media_id, list(q ORDER BY c) AS sg,
      |               CAST(count(*) AS BIGINT) AS sn
      |        FROM p GROUP BY 1),
      |reps AS MATERIALIZED (SELECT sg, min(media_id) AS rep, min(sn) AS sn
      |         FROM sig GROUP BY sg),
      |fstars AS (
      |  SELECT r.rep AS a, f.media_id AS b, r.sn AS n_matched,
      |         CAST(0 AS BIGINT) AS dq_max, 'family' AS kind
      |  FROM sig f JOIN reps r USING (sg)
      |  WHERE f.media_id <> r.rep AND r.sn >= 12),
      |rp AS MATERIALIZED (SELECT p.media_id, p.c, p.q
      |       FROM p JOIN reps r ON p.media_id = r.rep),
      |lp AS (SELECT media_id, c, q, q + d AS qp
      |       FROM rp CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d)),
      |j AS (
      |  SELECT l.media_id AS a, r2.media_id AS b, abs(l.q - r2.q) AS dq
      |  FROM lp l JOIN rp r2 ON l.c = r2.c AND l.qp = r2.q
      |                      AND l.media_id < r2.media_id),
      |pairs AS (
      |  SELECT a, b, CAST(count(*) AS BIGINT) AS n_matched,
      |         CAST(max(dq) AS BIGINT) AS dq_max, 'pair' AS kind
      |  FROM j GROUP BY a, b HAVING count(*) >= 12)
      |SELECT * FROM pairs UNION ALL SELECT * FROM fstars
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)).toDF()
    val auds = media.where(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
    val withPlanted = auds.unionByName(Multimodal.reencodeVariants(auds))
      .withColumn("kind", lit("audio"))
    Multimodal.audioNeardupStars(
      Multimodal.audioEnergyProfile(withPlanted, quantum = 4))
      .select(col("a"), col("b"), col("n_matched"),
        col("dq_max").cast("long").as("dq_max"), col("kind"))
      .orderBy("a", "b")
  }

  // x251 — CROSS-MODAL CURATION PROPAGATION: x246's image-cluster
  // decision lands on the TEXT side — near-duplicate images keep
  // exactly one caption document (x49's dedup-best rule: longest
  // caption, tie to smallest id) and drop the rest; unclustered images
  // are kept singletons. The paired image-text dedup move a multimodal
  // training pipeline ships; planted probe variants have no caption
  // row and simply don't participate. Broadcast cluster table (pair-
  // driven, corpus-small), ONE hash(cluster) exchange shared by the
  // keep rank and the cluster size.
  val x251 = Q(
    "x251_crossmodal_keepone",
    s"""WITH RECURSIVE m0 AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 1),
      |vv AS (
      |  SELECT media_id + 1000000000 AS media_id, '7E' || substr(hx, 3) AS hx, n
      |  FROM m0 WHERE media_id % 10 = 0 AND n >= 67 AND n % 37 <> 0),
      |m AS (SELECT * FROM m0 UNION ALL SELECT * FROM vv),
      |h AS (SELECT media_id, CAST($phashBitsSql AS BIGINT) AS phash FROM m),
      |e AS (
      |  SELECT media_id, phash, blk, (phash >> (blk * 15)) & 32767 AS key
      |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
      |g AS (SELECT *, count(*) OVER (PARTITION BY blk, key) AS bn FROM e),
      |f AS (SELECT * FROM g WHERE bn <= 65536),
      |p AS (
      |  SELECT DISTINCT l.media_id AS a, r.media_id AS b
      |  FROM f l JOIN f r ON l.blk = r.blk AND l.key = r.key
      |                   AND l.media_id < r.media_id
      |  WHERE bit_count(xor(l.phash, r.phash)) <= 3),
      |edges AS (SELECT a AS u, b AS w FROM p UNION ALL SELECT b, a FROM p),
      |reach(id, label) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e2.u, r2.label FROM edges e2 JOIN reach r2 ON e2.w = r2.id),
      |cl AS (SELECT id AS media_id, min(label) AS cluster FROM reach GROUP BY id),
      |d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS cap_len
      |      FROM documents WHERE doc_id % 3 = 0),
      |j AS (
      |  SELECT d.doc_id, cl.cluster IS NOT NULL AS in_c,
      |         coalesce(cl.cluster, d.doc_id) AS cluster, d.cap_len
      |  FROM d LEFT JOIN cl ON d.doc_id = cl.media_id),
      |r AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY cluster
      |                            ORDER BY cap_len DESC, doc_id) AS rk,
      |         count(*) OVER (PARTITION BY cluster) AS n_cluster
      |  FROM j)
      |SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
      |       CAST(n_cluster AS BIGINT) AS n_cluster,
      |       CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS keep,
      |       CASE WHEN NOT in_c THEN 'singleton'
      |            WHEN rk = 1 THEN 'cluster_best'
      |            ELSE 'cluster_dup' END AS reason
      |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val media = Multimodal.mediaFromDocuments(s, docs).toDF()
    val imgs = media.where(col("kind") === "image")
      .select(col("media_id"), col("payload"))
    val withPlanted = imgs.unionByName(Multimodal.reencodeVariants(imgs))
    val clusters = Dedup.connectedComponents(
        Multimodal.phashPairs(
          Multimodal.dHash60(withPlanted, col("media_id"), col("payload"))))
      .select(col("doc_id").as("media_id"), col("cluster"))
    Curation.crossModalKeepOne(
        docs.where(col("doc_id") % 3 === 0).select("doc_id", "text"),
        clusters)
      .orderBy("doc_id")
  }

  // x252 — MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019): best
  // English candidate per German query by the hubness-corrected margin
  // (cosine over both sides' k-NN neighborhood means), in shifted
  // integer micro-units so every division floors identically on both
  // engines. The query shard is id-bounded (x9's fixed-query contract:
  // constant work at ANY scale factor — key-shifted sf1 copies fall
  // outside the bound); production mines shard pairs via x82/x10.
  val x252 = Q(
    "x252_bitext_margin",
    """WITH a AS (
      |  SELECT d.doc_id AS qid, e.embedding::DOUBLE[] AS emb
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |  WHERE d.lang = 'de' AND d.doc_id < 2000),
      |b AS (
      |  SELECT d.doc_id AS tid, e.embedding::DOUBLE[] AS emb
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |  WHERE d.lang = 'en' AND d.doc_id < 8000),
      |p AS (
      |  SELECT a.qid, b.tid,
      |         CAST(round(list_cosine_similarity(a.emb, b.emb) * 1000000, 0) AS BIGINT) AS sim_e6
      |  FROM a, b WHERE a.qid <> b.tid),
      |p1 AS (SELECT *, sim_e6 + 1000000 AS s1 FROM p),
      |rq AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim_e6 DESC, tid) AS r FROM p1),
      |mq AS (SELECT qid, CAST(sum(s1) // count(*) AS BIGINT) AS mq1_e6
      |       FROM rq WHERE r <= 4 GROUP BY qid),
      |rt AS (SELECT *, row_number() OVER (PARTITION BY tid ORDER BY sim_e6 DESC, qid) AS r FROM p1),
      |mt AS (SELECT tid, CAST(sum(s1) // count(*) AS BIGINT) AS mt1_e6
      |       FROM rt WHERE r <= 4 GROUP BY tid),
      |sc AS (
      |  SELECT p1.qid, p1.tid, p1.sim_e6, mq.mq1_e6, mt.mt1_e6,
      |         CAST(p1.s1 * 2000000 // greatest(mq.mq1_e6 + mt.mt1_e6, 1) AS BIGINT) AS margin_e6
      |  FROM p1 JOIN mq USING (qid) JOIN mt USING (tid)),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY margin_e6 DESC, tid) AS r
      |  FROM sc)
      |SELECT qid, tid AS tgt_id, sim_e6, mq1_e6, mt1_e6, margin_e6,
      |       CAST(CASE WHEN margin_e6 > 1000000 THEN 1 ELSE 0 END AS INT) AS accept
      |FROM best WHERE r = 1 ORDER BY qid""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val embs = normalizedEmb(s, dir)
    def side(lang: String, bound: Long) =
      embs.join(
        docs.where(col("lang") === lang && col("doc_id") < bound)
          .select(col("doc_id")),
        col("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("emb"), col("norm"))
    Similarity.marginMine(side("de", 2000L), side("en", 8000L), k = 4)
      .orderBy("qid")
  }

  // x253 — LENGTH-BUCKETED BATCH PLAN + PADDING-WASTE ACCOUNTING: what
  // a padded training loader pays per length bucket, as exact integers
  // (x37 prices the packed regime; THIS prices the padded one). The
  // in-bucket rank is StratumRank two-phase — buckets are a <=16-value
  // stratum, exactly the funnel class round 14 retired.
  val x253 = Q(
    "x253_pad_waste",
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |b AS (SELECT doc_id, n_tok, least(n_tok // 64, 15) AS bucket FROM d),
      |r AS (SELECT *, row_number() OVER (PARTITION BY bucket
      |                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |      FROM b),
      |g AS (SELECT bucket, (rn - 1) // 32 AS batch,
      |             CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(max(n_tok) AS BIGINT) AS mx,
      |             CAST(sum(n_tok) AS BIGINT) AS tok
      |      FROM r GROUP BY 1, 2)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_batches,
      |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |       CAST(sum(tok) AS BIGINT) AS tok_total,
      |       CAST(sum(mx * n_docs - tok) AS BIGINT) AS pad_total,
      |       CAST(CAST(sum(mx * n_docs - tok) AS HUGEINT) * 1000000
      |            // greatest(sum(mx * n_docs - tok) + sum(tok), 1) AS BIGINT) AS waste_ppm
      |FROM g GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    graft.ext.Packing.padWaste(Tables.documents(s, dir), col("doc_id"), col("text"),
        bucketWidth = 64, maxBucketId = 15, batchSize = 32)
      .orderBy("bucket")
  }

  // x254 — MULTIMODAL CONSENSUS NEAR-DUP: the agreement matrix between
  // the image signal (x241's banded dHash60 pairs) and the caption
  // signal (x8's banded SimHash pairs) over the image corpus — 'both'
  // is the high-confidence dup, 'image_only' the re-caption case,
  // 'text_only' the re-illustration case. One pair-driven full outer
  // on top of two already-banded pipelines. PLANTED twins make the
  // 'both' class non-vacuous at any corpus size (the x241 discipline):
  // every re-encoded image variant (byte-0 perturbation, phash
  // hamming <= 1 guaranteed) carries an IDENTICAL caption twin
  // (simhash hamming 0 guaranteed), so each planted (id, id+1e9) pair
  // must land in 'both'.
  val x254 = Q(
    "x254_consensus_neardup",
    s"""WITH m0 AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 1),
      |v AS (
      |  SELECT media_id + 1000000000 AS media_id, '7E' || substr(hx, 3) AS hx, n
      |  FROM m0 WHERE media_id % 10 = 0 AND n >= 67 AND n % 37 <> 0),
      |m AS (SELECT * FROM m0 UNION ALL SELECT * FROM v),
      |h AS (SELECT media_id, CAST($phashBitsSql AS BIGINT) AS phash FROM m),
      |e AS (
      |  SELECT media_id, phash, blk, (phash >> (blk * 15)) & 32767 AS key
      |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
      |g AS (SELECT *, count(*) OVER (PARTITION BY blk, key) AS bn FROM e),
      |f AS (SELECT * FROM g WHERE bn <= 65536),
      |ip AS (
      |  SELECT DISTINCT l.media_id AS a, r.media_id AS b,
      |         CAST(bit_count(xor(l.phash, r.phash)) AS INT) AS ih
      |  FROM f l JOIN f r ON l.blk = r.blk AND l.key = r.key
      |                   AND l.media_id < r.media_id
      |  WHERE bit_count(xor(l.phash, r.phash)) <= 3),
      |td0 AS (SELECT doc_id, text FROM documents
      |        WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 1),
      |tv0 AS (
      |  SELECT doc_id + 1000000000 AS doc_id, text FROM td0
      |  WHERE doc_id % 10 = 0 AND octet_length(encode(text)) >= 67
      |    AND octet_length(encode(text)) % 37 <> 0),
      |tdoc AS (SELECT * FROM td0 UNION ALL SELECT * FROM tv0),
      |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM tdoc),
      |thh AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tok),
      |tv AS (
      |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM thh CROSS JOIN (SELECT unnest(range(60)) AS j) js GROUP BY doc_id, j),
      |sig AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS BIGINT) AS simhash
      |  FROM tv GROUP BY doc_id),
      |blk2 AS (
      |  SELECT doc_id, simhash, b AS blk, (simhash >> (b * 15)) & 32767 AS key
      |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) bs),
      |ok AS (SELECT blk, key FROM blk2 GROUP BY blk, key HAVING count(*) <= 65536),
      |tp AS (
      |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
      |         CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS thm
      |  FROM blk2 l
      |  JOIN blk2 r ON l.blk = r.blk AND l.key = r.key AND l.doc_id < r.doc_id
      |  JOIN ok ON ok.blk = l.blk AND ok.key = l.key
      |  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3)
      |SELECT coalesce(ip.a, tp.a) AS a, coalesce(ip.b, tp.b) AS b,
      |       CAST(coalesce(ip.ih, -1) AS INT) AS img_hamming,
      |       CAST(coalesce(tp.thm, -1) AS INT) AS txt_hamming,
      |       CASE WHEN ip.a IS NOT NULL AND tp.a IS NOT NULL THEN 'both'
      |            WHEN ip.a IS NOT NULL THEN 'image_only'
      |            ELSE 'text_only' END AS signal
      |FROM ip FULL OUTER JOIN tp ON ip.a = tp.a AND ip.b = tp.b
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val media = Multimodal.mediaFromDocuments(s, docs).toDF()
    val imgs = media.where(col("kind") === "image")
      .select(col("media_id"), col("payload"))
    val withPlanted = imgs.unionByName(Multimodal.reencodeVariants(imgs))
    val imgPairs = Multimodal.phashPairs(
      Multimodal.dHash60(withPlanted, col("media_id"), col("payload")))
    // identical caption twins for exactly the planted image set: the
    // filters mirror reencodeVariants' (every 10th, length >= 67,
    // length % 37 != 0) so each planted pair has BOTH signals
    val caps = docs.where(col("doc_id") % 3 === 0 &&
        length(encode(col("text"), "UTF-8")) >= 1)
      .select(col("doc_id"), col("text"))
    val capTwins = caps.where(col("doc_id") % 10 === 0 &&
        length(encode(col("text"), "UTF-8")) >= 67 &&
        length(encode(col("text"), "UTF-8")) % 37 =!= 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
    val txtPairs = Dedup.simhashPairs(
      Dedup.simhash(caps.unionByName(capTwins), col("doc_id"), col("text")),
      maxHamming = 3)
    Multimodal.consensusPairs(imgPairs, txtPairs).orderBy("a", "b")
  }

  // x255 — NDCG@10 OF THE EMBEDDING RANKING vs label relevance: the
  // graded-ranking ANN-eval member (x84 recall / x206 MRR / x221 mAP
  // are hit-or-miss). The log2 position discounts are PRECOMPUTED
  // integer literals interpolated into BOTH the plan and the oracle
  // from the same Scala values — the log never executes on either
  // engine, so the metric is floor-exact.
  private val ndcgW: Seq[Long] = (1 to 10).map(i =>
    math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
  private val ndcgCumW: Seq[Long] = ndcgW.scanLeft(0L)(_ + _).tail
  val x255 = Q(
    "x255_ndcg_eval",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS qid, q.label AS q_label, e.vec_id AS nid,
      |         e.label AS n_label,
      |         round(list_cosine_similarity(q.emb, e.emb), 6) AS sim
      |  FROM e q, e WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      |      FROM p),
      |t AS (SELECT * FROM r WHERE rank <= 10),
      |c AS (SELECT label AS q_label, CAST(count(*) AS BIGINT) AS n_label_total
      |      FROM e GROUP BY 1),
      |d AS (
      |  SELECT qid, q_label,
      |         CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_at_k,
      |         CAST(sum(CASE WHEN n_label = q_label THEN
      |           CASE rank ${ndcgW.zipWithIndex.map { case (v, i) =>
                   s"WHEN ${i + 1} THEN $v" }.mkString(" ")} ELSE 0 END
      |           ELSE 0 END) AS BIGINT) AS dcg_e6
      |  FROM t GROUP BY 1, 2),
      |f AS (
      |  SELECT d.qid, d.n_rel_at_k, d.dcg_e6,
      |         CAST(CASE least(c.n_label_total - 1, 10)
      |           ${ndcgCumW.zipWithIndex.map { case (v, i) =>
                   s"WHEN ${i + 1} THEN $v" }.mkString(" ")} ELSE 0 END AS BIGINT) AS idcg_e6
      |  FROM d JOIN c USING (q_label))
      |SELECT qid, n_rel_at_k, dcg_e6, idcg_e6,
      |       CAST(CASE WHEN idcg_e6 > 0 THEN dcg_e6 * 1000000 // idcg_e6
      |            ELSE 0 END AS BIGINT) AS ndcg_e6
      |FROM f ORDER BY qid""".stripMargin) { (s, dir) =>
    val embs = normalizedEmb(s, dir)
    val labels = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    Similarity.ndcgAtK(embs, embs.where(col("vec_id") < 10), labels, k = 10)
      .orderBy("qid")
  }

  // x256 — AUDIO-CLUSTER KEEP-ONE: x251's cross-modal propagation with
  // the AUDIO near-dup decision (x250's pigeonhole-banded energy-profile
  // vote, CC-clustered) in place of the image clusters — proving the
  // keep-one composition is modality-agnostic end-to-end. Near-duplicate
  // recordings keep exactly one transcript document (x49's dedup-best
  // rule: longest caption, tie to smallest id); unclustered recordings
  // are kept singletons; planted re-encode variants (+1e9 ids, doc_id
  // % 3 = 2 space) have no transcript row and don't participate. Same
  // broadcast-cluster / one-cluster-exchange plan as x251.
  val x256 = Q(
    "x256_audio_keepone",
    s"""WITH RECURSIVE m0 AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= 1),
      |v AS (
      |  SELECT media_id + 1000000000 AS media_id, '7E' || substr(hx, 3) AS hx, n
      |  FROM m0 WHERE media_id % 10 = 0 AND n >= 67 AND n % 37 <> 0),
      |m AS (SELECT * FROM m0 UNION ALL SELECT * FROM v),
      |w AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS c),
      |e AS (
      |  SELECT media_id, c,
      |         ${(0 until 4).map(j => audioByteSql(s"c * 4 + $j")).mkString("\n         + ")} AS energy
      |  FROM m CROSS JOIN w),
      |p AS MATERIALIZED (SELECT media_id, c, energy // 4 AS q FROM e),
      |sig AS MATERIALIZED (SELECT media_id, list(q ORDER BY c) AS sg,
      |               CAST(count(*) AS BIGINT) AS sn
      |        FROM p GROUP BY 1),
      |reps AS MATERIALIZED (SELECT sg, min(media_id) AS rep, min(sn) AS sn
      |         FROM sig GROUP BY sg),
      |fstars AS (
      |  SELECT r.rep AS a, f.media_id AS b
      |  FROM sig f JOIN reps r USING (sg)
      |  WHERE f.media_id <> r.rep AND r.sn >= 12),
      |rp0 AS MATERIALIZED (SELECT p.media_id, p.c, p.q
      |        FROM p JOIN reps r ON p.media_id = r.rep),
      |lp AS (SELECT media_id, c, q, q + d AS qp
      |       FROM rp0 CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d)),
      |pr AS MATERIALIZED (
      |  SELECT l.media_id AS a, r2.media_id AS b
      |  FROM lp l JOIN rp0 r2 ON l.c = r2.c AND l.qp = r2.q
      |                       AND l.media_id < r2.media_id
      |  GROUP BY 1, 2 HAVING count(*) >= 12
      |  UNION ALL SELECT a, b FROM fstars),
      |edges AS (SELECT a AS u, b AS wd FROM pr UNION ALL SELECT b, a FROM pr),
      |reach(id, label) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e2.u, r2.label FROM edges e2 JOIN reach r2 ON e2.wd = r2.id),
      |cl AS (SELECT id AS media_id, min(label) AS cluster FROM reach GROUP BY id),
      |d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS cap_len
      |      FROM documents WHERE doc_id % 3 = 1),
      |j AS (
      |  SELECT d.doc_id, cl.cluster IS NOT NULL AS in_c,
      |         coalesce(cl.cluster, d.doc_id) AS cluster, d.cap_len
      |  FROM d LEFT JOIN cl ON d.doc_id = cl.media_id),
      |r AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY cluster
      |                            ORDER BY cap_len DESC, doc_id) AS rk,
      |         count(*) OVER (PARTITION BY cluster) AS n_cluster
      |  FROM j)
      |SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
      |       CAST(n_cluster AS BIGINT) AS n_cluster,
      |       CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS keep,
      |       CASE WHEN NOT in_c THEN 'singleton'
      |            WHEN rk = 1 THEN 'cluster_best'
      |            ELSE 'cluster_dup' END AS reason
      |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val media = Multimodal.mediaFromDocuments(s, docs).toDF()
    val auds = media.where(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
    val withPlanted = auds.unionByName(Multimodal.reencodeVariants(auds))
      .withColumn("kind", lit("audio"))
    // CC over the STAR form (round 16): star edges connect exactly the
    // members their cliques connect and cross-family reachability rides
    // the rep pairs (identical profiles ⇒ identical votes), so the
    // component partition — and its min-id labels — is IDENTICAL to CC
    // over the full pair expansion, at O(family) instead of O(family²)
    // edges under a flood. The oracle's recursive CC runs the same
    // collapsed edge set.
    val clusters = Dedup.connectedComponents(
        Multimodal.audioNeardupStars(
          Multimodal.audioEnergyProfile(withPlanted, quantum = 4)))
      .select(col("doc_id").as("media_id"), col("cluster"))
    Curation.crossModalKeepOne(
        docs.where(col("doc_id") % 3 === 1).select("doc_id", "text"),
        clusters)
      .orderBy("doc_id")
  }

  // x257 — VIDEO-CLUSTER KEEP-ONE: the third modality through the same
  // composition — x243's frame-aligned near-dup vote (>= 2 matching
  // frames at hamming <= 3), CC-clustered, propagated onto the video
  // captions. Re-upload twins (+2e9 ids, doc_id % 3 = 1 space) have no
  // caption row and don't participate; their presence in the cluster
  // table exercises exactly the captionless-member path the x251
  // contract documents. Broadcast cluster table, one cluster-keyed
  // exchange — the keep-one machinery is shared, not re-implemented.
  val x257 = Q(
    "x257_video_keepone",
    s"""WITH RECURSIVE m0 AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |         CAST(octet_length(encode(text)) AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 2 AND octet_length(encode(text)) >= 1),
      |tw AS (
      |  SELECT media_id + 2000000000 AS media_id, hx, n
      |  FROM m0 WHERE media_id % 7 = 0),
      |m AS (SELECT * FROM m0 UNION ALL SELECT * FROM tw),
      |fr AS (
      |  SELECT media_id, hx, n, 1 + n % 30 AS nf,
      |         (1 + n % 30 + 7) // 8 AS stride FROM m),
      |f AS (
      |  SELECT media_id, hx, n, CAST(unnest(range(0, nf, stride)) AS INT) AS fi
      |  FROM fr),
      |h AS (SELECT media_id, fi, CAST($frameBitsSql AS BIGINT) AS phash FROM f),
      |e AS (
      |  SELECT media_id, fi, phash, blk, (phash >> (blk * 15)) & 32767 AS key
      |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
      |g AS (SELECT *, count(*) OVER (PARTITION BY fi, blk, key) AS bn FROM e),
      |ff AS MATERIALIZED (SELECT * FROM g WHERE bn <= 65536),
      |p AS (
      |  SELECT DISTINCT l.media_id AS a, r.media_id AS b, l.fi,
      |         CAST(bit_count(xor(l.phash, r.phash)) AS INT) AS hamming
      |  FROM ff l JOIN ff r ON l.fi = r.fi AND l.blk = r.blk AND l.key = r.key
      |                      AND l.media_id < r.media_id),
      |pr AS MATERIALIZED (SELECT a, b FROM p WHERE hamming <= 3
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |edges AS (SELECT a AS u, b AS wd FROM pr UNION ALL SELECT b, a FROM pr),
      |reach(id, label) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e2.u, r2.label FROM edges e2 JOIN reach r2 ON e2.wd = r2.id),
      |cl AS (SELECT id AS media_id, min(label) AS cluster FROM reach GROUP BY id),
      |d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS cap_len
      |      FROM documents WHERE doc_id % 3 = 2),
      |j AS (
      |  SELECT d.doc_id, cl.cluster IS NOT NULL AS in_c,
      |         coalesce(cl.cluster, d.doc_id) AS cluster, d.cap_len
      |  FROM d LEFT JOIN cl ON d.doc_id = cl.media_id),
      |r AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY cluster
      |                            ORDER BY cap_len DESC, doc_id) AS rk,
      |         count(*) OVER (PARTITION BY cluster) AS n_cluster
      |  FROM j)
      |SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
      |       CAST(n_cluster AS BIGINT) AS n_cluster,
      |       CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS keep,
      |       CASE WHEN NOT in_c THEN 'singleton'
      |            WHEN rk = 1 THEN 'cluster_best'
      |            ELSE 'cluster_dup' END AS reason
      |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val media = Multimodal.mediaFromDocuments(s, docs).toDF()
    val vids = media.where(col("kind") === "video")
      .select(col("media_id"), col("kind"), col("payload"))
    val withTwins = vids.unionByName(Multimodal.reuploadTwins(vids))
    val clusters = Dedup.connectedComponents(
        Multimodal.videoNeardupPairs(Multimodal.videoFrameDHash(withTwins)))
      .select(col("doc_id").as("media_id"), col("cluster"))
    Curation.crossModalKeepOne(
        docs.where(col("doc_id") % 3 === 2).select("doc_id", "text"),
        clusters)
      .orderBy("doc_id")
  }

  // x258 — CODE-VS-PROSE STRUCTURAL SIGNALS: the format detector a
  // code-data curation pipeline runs before routing docs to the code
  // or prose quality gates — x3/x42 score prose quality, NOTHING saw
  // structure. Indented-line count, code-symbol count, cross-language
  // keyword hits, two exact ppm densities, and a conjunctive integer
  // flag. ONE scan-side projection; the regex set is the common
  // Java-regex/RE2 subset so both engines count identical matches.
  // NON-VACUITY (the x241 discipline — the gate corpus is pure prose,
  // all signals zero): every 10th doc gets a deterministic CODE TWIN
  // (+1e9 id, the text wrapped in an import/def/var/return block), so
  // code_flag=1 rows, indent counts, and keyword hits are GUARANTEED
  // at any corpus size — in both engines, from the same construction.
  val x258 = Q(
    "x258_code_signals",
    """WITH m AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS doc_id,
      |         'import os;' || chr(10) || 'def f() {' || chr(10) ||
      |         '  var x = (1);' || chr(10) || '  return "' || text ||
      |         '";' || chr(10) || '}' AS text
      |  FROM documents WHERE doc_id % 10 = 0)
      |SELECT doc_id,
      |       CAST(length(text) AS BIGINT) AS n_chars,
      |       CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |       CAST(len(list_filter(string_split(text, chr(10)),
      |            l -> regexp_matches(l, '^(  |\t)'))) AS BIGINT) AS n_indent,
      |       CAST(len(regexp_extract_all(text, '[{}();=<>\[\]]')) AS BIGINT) AS n_sym,
      |       CAST(len(regexp_extract_all(text,
      |            '\b(def|class|import|return|function|const|var|void|public|static)\b'))
      |            AS BIGINT) AS n_kw,
      |       CAST(len(regexp_extract_all(text, '[{}();=<>\[\]]')) * 1000000
      |            // greatest(length(text), 1) AS BIGINT) AS sym_ppm,
      |       CAST(len(list_filter(string_split(text, chr(10)),
      |            l -> regexp_matches(l, '^(  |\t)'))) * 1000000
      |            // greatest(len(string_split(text, chr(10))), 1) AS BIGINT) AS indent_ppm,
      |       CAST(CASE WHEN (len(regexp_extract_all(text, '[{}();=<>\[\]]')) * 1000000
      |                       // greatest(length(text), 1) >= 30000
      |                   AND len(list_filter(string_split(text, chr(10)),
      |                       l -> regexp_matches(l, '^(  |\t)'))) * 1000000
      |                       // greatest(len(string_split(text, chr(10))), 1) >= 200000)
      |                  OR len(regexp_extract_all(text,
      |                       '\b(def|class|import|return|function|const|var|void|public|static)\b')) >= 3
      |            THEN 1 ELSE 0 END AS INT) AS code_flag
      |FROM m
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val planted = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(lit("import os;\ndef f() {\n  var x = (1);\n  return \""),
          col("text"), lit("\";\n}")).as("text"))
    TextAnalysis.codeSignals(
        docs.select(col("doc_id"), col("text")).unionByName(planted),
        col("doc_id"), col("text"))
      .orderBy("doc_id")
  }

  // x259 — CHUNK-LEVEL EXACT DEDUP (paragraph/block dedup, the
  // RefinedWeb/CCNet move): fixed 200-char blocks on x36's exact chunk
  // grid, a block value duplicated when it occurs in >= 2 DISTINCT
  // docs, each doc reporting its duplicated mass. Sits between x1
  // (whole-doc exact — misses partial copies) and x56/x66 (shingle
  // machinery — pays far more); the cheap first pass before near-dup
  // budget. Wire carries only (doc_id, md5) collapsed to cells.
  // Empty/NULL chunks are filtered before hashing on BOTH engines
  // (round 16): zero-length content must not make empty docs mutual
  // duplicates; a doc with no non-empty content emits no row.
  val x259 = Q(
    "x259_chunk_dedup",
    """WITH d AS (
      |  SELECT doc_id, text,
      |         greatest(1, CAST(floor((length(text) + 199) / 200.0) AS BIGINT)) AS nc
      |  FROM documents),
      |c AS (SELECT doc_id, unnest(range(nc)) AS cid, text FROM d),
      |o AS (SELECT doc_id,
      |             md5(substring(text, CAST(cid * 200 + 1 AS INT), 200)) AS h,
      |             length(substring(text, CAST(cid * 200 + 1 AS INT), 200)) AS hl
      |      FROM c),
      |cells AS (SELECT h, doc_id, CAST(count(*) AS BIGINT) AS c
      |          FROM o WHERE h IS NOT NULL AND hl > 0 GROUP BY 1, 2),
      |nd AS (SELECT h, CAST(count(*) AS BIGINT) AS nd FROM cells GROUP BY 1)
      |SELECT cells.doc_id,
      |       CAST(sum(c) AS BIGINT) AS n_chunks,
      |       CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      |       CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) * 1000000
      |            // sum(c) AS BIGINT) AS dup_ppm
      |FROM cells JOIN nd USING (h)
      |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.chunkDedup(Tables.documents(s, dir), col("doc_id"), col("text"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] =
    Seq(x1, x2, x3, x4, x5, x6, x7, x8, x9, x10, x11, x12, x13, x14, x15,
      x16, x17, x18, x19, x20, x21, x22, x23, x24, x25, x26, x27, x28, x29,
      x30, x31, x32, x33, x34, x35, x36, x37, x38, x39, x40, x41, x42, x43,
      x44, x45, x46, x47, x48, x49, x50, x51, x52, x53, x54, x55, x56, x57,
      x58, x59, x60, x61, x62, x63, x64, x65, x66, x67, x68, x69, x70, x71,
      x72, x73, x74, x75, x76, x77, x78, x79, x80, x81, x82, x83, x84, x85,
      x86, x87, x88, x89, x90, x91, x92, x93, x94, x95, x96, x97, x98, x99,
      x100, x101, x102, x103, x104, x105, x106, x107, x108, x109, x110,
      x111, x112, x113, x114, x115, x116, x117, x118, x119, x120, x121, x122,
      x123, x124, x125, x126, x127, x128, x129, x130, x131, x132, x133,
      x134, x135, x136, x137, x138, x139, x140, x141, x142, x143, x144,
      x145, x146, x147, x148, x149, x150, x151, x152, x153, x154, x155, x156, x157, x158, x159, x160, x161, x162, x163, x164, x165, x166, x167, x168, x169, x170, x171, x172, x173, x174, x175,
      x176, x177, x178, x179, x180, x181, x182, x183, x184, x185, x186,
      x187, x188, x189, x190, x191, x192, x193, x194, x195, x196, x197,
      x198, x199, x200, x201, x202, x203, x204, x205, x206, x207, x208,
      x209, x210, x211, x212, x213, x214, x215, x216, x217, x218, x219,
      x220, x221, x222, x223, x224, x225, x226, x227, x228, x229, x230,
      x231, x232, x233, x234, x235, x236, x237, x238, x239, x240, x241,
      x242, x243, x244, x245, x246, x247, x248, x249, x250, x251, x252,
      x253, x254, x255, x256, x257, x258, x259)
}
