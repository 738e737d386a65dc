package graft

import org.apache.spark.sql.functions._

/** Web-curation operators: canonicalization semantics, redaction
  * completeness, and filter behavior beyond the hash oracle.
  */
class WebOpsSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("q54: canonical urls are lowercase, unported, untracked, defragmented") {
    val rows = SparkEntry.queries("q54_url_canonical")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getString(2)
      assert(!c.exists(_.isUpper), s"uppercase survived: $c")
      assert(!c.contains("www."), s"www survived: $c")
      assert(!c.contains(":80") && !c.contains(":443"), s"default port survived: $c")
      assert(!c.contains("//") || c.indexOf("//") == c.indexOf("://") + 1,
        s"duplicate path slashes survived: $c")
      assert(!c.contains("utm_"), s"tracking param survived: $c")
      assert(!c.contains("#"), s"fragment survived: $c")
      assert(!c.endsWith("?"), s"dangling query separator: $c")
    }
    // Non-tracking params survive.
    assert(rows.exists(_.getString(2).contains("?x=")))
  }

  test("q55: redacted text carries no PII shapes; counts are ≥ the planted ones") {
    val df = SparkEntry.queries("q55_pii_redact")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // Every doc has the planted email+phone+ip at minimum.
    rows.foreach { r =>
      assert(r.getInt(1) >= 1 && r.getInt(2) >= 1 && r.getInt(3) >= 1, r.toString)
    }
  }

  test("q56: metrics are well-formed and the keep verdict matches its conjuncts") {
    val rows = SparkEntry.queries("q56_quality_filters")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mwl, alpha, sym, ell) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(alpha >= 0 && alpha <= 1 && ell >= 0 && ell <= 1)
      val expect = mwl >= 3 && mwl <= 10 && alpha >= 0.8 && sym <= 0.1 && ell <= 0.3
      assert(r.getBoolean(6) == expect, r.toString)
    }
    // The corpus is natural-language: most docs pass.
    assert(rows.count(_.getBoolean(6)) > rows.length / 2)
  }

  test("x63: compression ratio is deterministic, bounded, and orders repetitive below varied text") {
    import spark.implicits._
    val df = SparkEntry.queries("x63_compression_ratio")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, comp, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(raw > 0 && comp > 0)
      assert(ratio > 0 && ratio < 2, r.toString) // zlib header can exceed 1 only on tiny inputs
      assert(r.getBoolean(4) == (comp.toDouble / raw < 0.35), r.toString)
    }
    // Deterministic across runs (same Deflater level/strategy).
    assert(df.collect().toSeq == rows.toSeq)
    // Signal direction on known inputs, through the same query over a
    // planted table: pure repetition deflates far below varied text.
    val dir = tmpDir("x63_known")
    Seq((0L, "spam " * 400), (1L, (1 to 400).map(i => s"uniq${i}word$i").mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val known = SparkEntry.queries("x63_compression_ratio")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(known(0L) < 0.05, s"repetitive ratio ${known(0L)}")
    assert(known(1L) > 2 * known(0L), s"varied ${known(1L)} vs repetitive ${known(0L)}")
    assert(known(0L) < 0.35 && known(1L) > 0.0)
  }

  test("q76: sigmoid scores bounded, keep matches threshold, stopword signal separates") {
    val rows = SparkEntry.queries("q76_quality_classifier")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("stop_frac"),
        r.getAs[Double]("score"), r.getAs[Boolean]("keep")))
    assert(rows.nonEmpty)
    rows.foreach { case (d, sfr, sc, k) =>
      assert(sc > 0.0 && sc < 1.0, s"doc $d score $sc")
      assert(k == (sc >= 0.5), s"doc $d keep")
      assert(sfr >= 0.0 && sfr <= 1.0)
    }
    // The classifier must actually separate (both verdicts present) and
    // stopword-bearing (English-looking) docs must score higher on
    // average than stopword-free ones — the signal the weights encode.
    assert(rows.exists(_._4) && rows.exists(!_._4))
    val (withStop, noStop) = rows.partition(_._2 > 0.0)
    assert(withStop.nonEmpty && noStop.nonEmpty)
    val avg = (xs: Array[(Long, Double, Double, Boolean)]) =>
      xs.map(_._3).sum / xs.length
    assert(avg(withStop) > avg(noStop))
  }

  test("q77: revisit dedup keeps exactly the newest snapshot per url") {
    // sf0.01 so the planted url keys actually collide into revisit
    // groups (sf0.001 has < 120 docs — every group would be size 1).
    val d1 = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q77_url_revisit")(spark, d1).collect()
    val nDocs = spark.read.parquet(s"$d1/documents.parquet").count()
    assert(rows.nonEmpty && rows.length < nDocs, "planted keys must collide")
    // Every source row lands in exactly one url group.
    assert(rows.map(_.getAs[Long]("n_snapshots")).sum == nDocs)
    rows.foreach { r =>
      val kept = r.getAs[Long]("kept_doc_id")
      val first = r.getAs[Long]("first_ts_s")
      val last = r.getAs[Long]("last_ts_s")
      assert(first <= last)
      // The kept doc's planted timestamp IS the group max — recomputed
      // here from the planting formula, independent of the query.
      assert(1600000000L + (kept * 7919) % 100000 == last,
        s"kept_doc_id ${kept} is not the newest snapshot of ${r.getString(0)}")
    }
  }

  test("q81: snapshot-diff statuses match the planting arithmetic per url") {
    val d1 = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q81_snapshot_diff")(spark, d1).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val ids = spark.read.parquet(s"$d1/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    assert(rows.size == ids.length) // every url classified exactly once
    ids.foreach { id =>
      val expect =
        if (id % 10 == 9) "added"            // absent from snapshot A
        else if (id % 10 == 0) "removed"     // absent from snapshot B
        else if (id % 7 == 0) "changed"      // content bumped in B
        else "unchanged"
      val url = s"https://site${id % 5}.com/p$id"
      assert(rows(url) == expect, s"doc $id: ${rows(url)} != $expect")
    }
  }

  test("q89 PageRank: matches a driver-side reference, ranks positive and mass-conserving") {
    import org.apache.spark.sql.functions._
    val d1 = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q89_host_pagerank")(spark, d1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // Independent driver-side PageRank over the same planted edges.
    val ids = spark.read.parquet(s"$d1/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val edges = ids.map(i => (if (i % 3 == 0) 0L else i % 40, (i * 7 + 3) % 40))
      .filter(e => e._1 != e._2).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toDouble
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map(e => r(e._1) / deg(e._1)).sum).toMap
      r = nodes.map(h => h -> (0.15 / n + 0.85 * contrib.getOrElse(h, 0.0))).toMap
    }
    assert(got.keySet == r.keySet)
    got.foreach { case (h, rank) =>
      assert(rank > 0)
      assert(math.abs(rank - r(h)) < 1e-6, s"host $h: $rank vs ${r(h)}")
    }
    // No dangling hosts in the planted graph (7 coprime to 40 ⇒ every
    // host emits), so total rank mass is conserved at exactly 1.
    assert(math.abs(got.values.sum - 1.0) < 1e-4, s"mass ${got.values.sum}")
  }

  test("q90 robots filter: closed-form REP precedence per planted path family") {
    val d1 = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q90_robots_filter")(spark, d1)
    // The documented scale shape, asserted: rules broadcast, argmax is
    // per-row array math — the url table is never hash/sort-merge
    // shuffled and no window operator appears (the only exchange is
    // the presentation orderBy's range partitioning).
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "rules must broadcast")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"), plan)
    val rows = df
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, path, rule, allowed) =>
      val host = id % 5
      (id % 4) match {
        case 0 => // /p/… matches no rule → allowed by default
          assert(rule == "" && allowed, s"doc $id $path")
        case 1 => // /private/…: every third host's longer '/private/'
          // Allow shadows the '/private' Disallow — the REP
          // longest-match override this operator exists for.
          if (host % 3 == 0) assert(rule == "/private/" && allowed, s"doc $id")
          else assert(rule == "/private" && !allowed, s"doc $id")
        case 2 => assert(rule == "/public" && allowed, s"doc $id")
        case _ => // /tmp/…: disallowed only on even hosts
          if (host % 2 == 0) assert(rule == "/tmp" && !allowed, s"doc $id")
          else assert(rule == "" && allowed, s"doc $id")
      }
    }
    // Both verdicts occur — the filter actually partitions the crawl.
    assert(rows.exists(_._4) && rows.exists(!_._4))
  }

  test("q90 with broadcast joins off: no BroadcastExchange, same rows as the default plan") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    val want = rows(SparkEntry.queries("q90_robots_filter")(spark, sf))
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      keys.foreach(conf.set(_, "-1"))
      // No hint forces the rules side to broadcast: the size thresholds
      // decide, so a crawl-scale rules table shuffles.
      val df = SparkEntry.queries("q90_robots_filter")(spark, sf)
      val got = rows(df)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan)
      assert(got.nonEmpty && got == want)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
