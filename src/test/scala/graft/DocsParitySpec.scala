package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The anti-drift gate: three consecutive rounds landed query batches
  * in the end-of-round snapshot with no COVERAGE/README entries
  * (x173/x174, x237–x240, x241/x242). This spec makes `sbt test` —
  * which must be green before any snapshot — refuse a registry/docs
  * mismatch, so an undocumented batch can never land silently again.
  *
  * No Spark session needed: it diffs `SparkEntry.queries.keySet`
  * against the doc surfaces as plain text.
  */
class DocsParitySpec extends AnyFunSuite {

  private def read(p: String): String = {
    val path = Paths.get(p)
    assert(Files.exists(path), s"missing doc file $p")
    new String(Files.readAllBytes(path), "UTF-8")
  }

  private val registered: Set[String] = SparkEntry.queries.keySet

  test("COVERAGE.md's full registry index lists exactly SparkEntry.queries") {
    val cov = read("COVERAGE.md")
    val header = """## Full registry index \(round \d+: (\d+) queries""".r
    val m = header.findFirstMatchIn(cov)
    assert(m.isDefined, "registry index header not found in COVERAGE.md")
    assert(m.get.group(1).toInt == registered.size,
      s"COVERAGE.md registry header says ${m.get.group(1)} queries; " +
        s"SparkEntry.queries has ${registered.size} — update the index")
    // the ids live in the fenced block right after the header
    val tail = cov.substring(m.get.start)
    val block = tail.split("```")(1)
    val listed = block.split("[,\\s]+").map(_.trim).filter(_.nonEmpty).toSet
    val missing = registered -- listed
    val stale = listed -- registered
    assert(missing.isEmpty,
      s"queries registered but NOT in COVERAGE.md registry index: " +
        s"${missing.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"ids in COVERAGE.md registry index but NOT registered: " +
        s"${stale.toSeq.sorted.mkString(", ")}")
  }

  test("README.md's query count matches the registry") {
    val readme = read("README.md")
    val count = """queries \((\d+) total\)""".r
    val m = count.findFirstMatchIn(readme)
    assert(m.isDefined, "'queries (N total)' line not found in README.md")
    assert(m.get.group(1).toInt == registered.size,
      s"README.md says ${m.get.group(1)} total queries; " +
        s"SparkEntry.queries has ${registered.size}")
  }

  test("every registered query has an oracle (the driver-gate precondition)") {
    val noOracle = registered -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"queries with no oracleSql entry: ${noOracle.toSeq.sorted.mkString(", ")}")
  }

  test("every registered query has a PLANS.md plan narrative or ledger line") {
    val plans = read("PLANS.md")
    val missing = registered.filterNot(plans.contains)
    assert(missing.isEmpty,
      s"queries with no PLANS.md mention (add a plan-ledger line): " +
        s"${missing.toSeq.sorted.mkString(", ")}")
  }

  test("tripwire parity: every registered query is probed or exempt-with-reason") {
    // probes are matched by their xN prefix against the tool's source —
    // Res labels use operator suffixes (x7_minhashPairs), registry names
    // use query suffixes (x7_dedup_minhash); the numeric id is the link
    val tripSrc = read("src/main/scala/graft/tools/VolumeTripwire.scala")
    val probed = """Res\("(x\d+)_""".r
      .findAllMatchIn(tripSrc).map(_.group(1)).toSet
    val exempt = graft.tools.VolumeTripwire.linearByConstruction.keySet
    def prefix(q: String): String = q.split("_")(0)

    val uncovered = registered.filterNot(q =>
      probed.contains(prefix(q)) || exempt.contains(q))
    assert(uncovered.isEmpty,
      "queries with neither a VolumeTripwire probe nor a " +
        "linearByConstruction reason: " +
        uncovered.toSeq.sorted.mkString(", "))

    val stale = exempt -- registered
    assert(stale.isEmpty,
      s"linearByConstruction entries for unregistered queries: " +
        s"${stale.toSeq.sorted.mkString(", ")}")

    val both = exempt.filter(q => probed.contains(prefix(q)))
    assert(both.isEmpty,
      "queries BOTH probed and exempted (drop the exemption — the probe " +
        "is the stronger evidence): " + both.toSeq.sorted.mkString(", "))
  }

  test("sf1 receipt parity: every registered query has a decade wall or a documented exclusion") {
    // receipts/sf1_receipts.json is written by scripts/sf1_evidence.py:
    // walls_sec carries the per-query sf1 bench wall, excluded the
    // documented exclusions (x11's N-squared guard, x174's
    // crossjoin-form oracle). A registered query in neither means the
    // decade receipt lagged the registry — the exact gap the round-13
    // verdict found on x249.
    val receipts = read("receipts/sf1_receipts.json")
    val covered = """"((?:q|x)[0-9a-z]*_[a-z0-9_]+)"""".r
      .findAllMatchIn(receipts).map(_.group(1)).toSet
    val missing = registered -- covered
    assert(missing.isEmpty,
      s"queries with no sf1 receipt (wall or documented exclusion) — " +
        s"run scripts/sf1_evidence.py (or its targeted merge) for: " +
        s"${missing.toSeq.sorted.mkString(", ")}")
  }

  test("skew receipt parity: every family query has an ok row (flat wall or documented refusal), receipt tracks the script") {
    // receipts/skew_receipts.json is written by scripts/skew_receipts.py
    // over the --skew corpus (viral fingerprint + fat stratum + hub user
    // + round-16's duplicated-embedding flood). Gated like the sf1
    // receipt: the script's FAMILIES block is the source of truth — a
    // query named there with no receipt row means the receipt lagged
    // the script; a receipt row with ok:false means a flood detonated
    // (or an undocumented error) and was committed anyway.
    val script = read("scripts/skew_receipts.py")
    val famBlock = script.split("FAMILIES = \\{")(1).split("\\n\\}")(0)
    val famQueries = """"((?:q|x)[0-9a-z]*_[a-z0-9_]+)"""".r
      .findAllMatchIn(famBlock).map(_.group(1)).toSet
    assert(famQueries.size >= 30, s"suspiciously small FAMILIES parse: $famQueries")
    val unregistered = famQueries -- registered
    assert(unregistered.isEmpty,
      s"skew_receipts.py FAMILIES names unregistered queries: " +
        s"${unregistered.toSeq.sorted.mkString(", ")}")
    // round-16 widening: the ANN flood family must stay present
    assert(famQueries.contains("x10_knn_lsh") &&
      famQueries.contains("x57_semantic_dedup"),
      "the ann_flood family left skew_receipts.py FAMILIES")

    val receipts = read("receipts/skew_receipts.json")
    val rowRe = """"((?:q|x)[0-9a-z]*_[a-z0-9_]+)": \{([^}]*)\}""".r
    val rows = rowRe.findAllMatchIn(receipts)
      .map(m => m.group(1) -> m.group(2)).toMap
    val missingRows = famQueries -- rows.keySet
    assert(missingRows.isEmpty,
      s"family queries with no skew receipt row — re-run " +
        s"scripts/skew_receipts.py: ${missingRows.toSeq.sorted.mkString(", ")}")
    val notOk = rows.filter { case (_, body) => !body.contains("\"ok\": true") }
    assert(notOk.isEmpty,
      s"skew receipt rows committed NOT ok (flood detonated or " +
        s"undocumented error): ${notOk.keys.toSeq.sorted.mkString(", ")}")
  }

  test("SPARK_GRAFT_QUERIES selection names every unregistered query and sorts the rest") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q1_catalog_scan, no_such_query,x7_typo")))
    assert(e.getMessage.contains("no_such_query, x7_typo"), e.getMessage)
    assert(!e.getMessage.contains("q1_catalog_scan"), e.getMessage)
    assert(SparkEntry.selected(Some("x7_dedup_minhash,q1_catalog_scan,")).map(_._1) ==
      Seq("q1_catalog_scan", "x7_dedup_minhash"))
    assert(SparkEntry.selected(None).map(_._1) == registered.toSeq.sorted)
  }

  test("SPARK_GRAFT_TRIPWIRE selection is exact and names every token that matches no row") {
    val rows = """Res\("(x\d+_\w+)"""".r
      .findAllMatchIn(read("src/main/scala/graft/tools/VolumeTripwire.scala"))
      .map(_.group(1)).toSeq
    assert(rows.contains("x70_bpeRounds") && rows.contains("x79_winnowPairs"))
    // an id picks its own rows only — x7 is not a prefix match for x70/x73/x79
    assert(graft.tools.VolumeTripwire.select(rows, Seq("x7")) == Set("x7_minhashPairs"))
    assert(graft.tools.VolumeTripwire.select(rows, Seq("x249")) ==
      Set("x249_distMatch", "x249_fatBin"))
    assert(graft.tools.VolumeTripwire.select(rows, Seq(" x249_fatBin", "x7")) ==
      Set("x249_fatBin", "x7_minhashPairs"))
    assert(graft.tools.VolumeTripwire.select(rows, Nil) == rows.toSet)
    // x57 is exempt (no row), so selecting it must fail, not print TRIPWIRE OK
    val e = intercept[IllegalArgumentException](
      graft.tools.VolumeTripwire.select(rows, Seq("x7", "x57", "x7_typo")))
    assert(e.getMessage.contains("x57, x7_typo"), e.getMessage)
  }
}
