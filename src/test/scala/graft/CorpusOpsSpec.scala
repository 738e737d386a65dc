package graft

import org.apache.spark.sql.functions._

/** Corpus-index operators (q67-q70): semantic sanity on the sf0.001
  * corpus (exact values are pinned by the driver's DuckDB oracles at
  * sf0.01 — these specs assert the invariants that must hold at ANY
  * scale) plus the plan-shape guards the 100 TB design relies on.
  */
class CorpusOpsSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"

  test("q67: posting heads are sorted, df-consistent, head-capped") {
    val rows = SparkEntry.queries("q67_inverted_index")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getAs[Long]("df")
      val tf = r.getAs[Long]("tf")
      // postings_head is a comma-joined string (not an array): the
      // driver's pandas-based checker cannot hash array cells.
      val head = r.getAs[String]("postings_head") match {
        case "" => Seq.empty[Long]
        case s2 => s2.split(",").toSeq.map(_.toLong)
      }
      assert(tf >= df, "every distinct doc contributes at least one occurrence")
      assert(head.size == math.min(df, 5L))
      assert(head == head.sorted)
      assert(head.headOption.contains(r.getAs[Long]("first_doc")))
    }
  }

  test("q68: exactly top-3 per language, scores non-increasing, exchange reused") {
    val q = SparkEntry.queries("q68_tfidf_terms")(spark, d)
    val rows = q.collect()
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
      assert(rs.length <= 3)
      val byRank = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      assert(byRank.zip(byRank.drop(1)).forall { case (a, b) => a >= b })
    }
    // The (term, lang, doc) count exchange must be computed once and
    // reused by the df and tf aggregations (the q24 assertion pattern:
    // check the FINAL adaptive plan).
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage"),
      s"expected the token-count exchange to be reused:\n$plan")
  }

  test("q69: entropy bounded by ln(n_uniq), low-entropy flag consistent") {
    val rows = SparkEntry.queries("q69_token_entropy")(spark, d).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy")
      val u = r.getAs[Long]("n_uniq")
      assert(h >= -1e-9, "entropy is non-negative")
      assert(h <= math.log(u.toDouble) + 1e-6, "uniform distribution maximizes entropy")
      assert(r.getAs[Boolean]("low_entropy") == (h < 2.0))
    }
  }

  test("q70: cross-doc shared spans detected; coverage invariants hold") {
    val rows = SparkEntry.queries("q70_dup_span_coverage")(spark, d).collect()
    // The corpus has near-duplicate pairs (q23's Jaccard >= 0.5 set is
    // non-empty), so cross-document shared 8-grams must surface.
    assert(rows.count(_.getAs[Long]("covered") > 0) > 0,
      "near-dup corpus should contain shared 8-token spans")
    rows.foreach { r =>
      val n = r.getAs[Int]("n_toks")
      val c = r.getAs[Long]("covered")
      assert(c <= n)
      if (n < 8) assert(c == 0L)
      assert(r.getAs[Boolean]("keep") == (c.toDouble / n <= 0.5))
    }
    // Ground-truth cross-check on one shared span: brute-force the
    // 8-gram sets driver-side and compare the covered-doc ID set.
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t").split("\\s+").filter(_.nonEmpty))
    val grams = docs.flatMap { case (id, ts) =>
      ts.sliding(8).filter(_.length == 8).map(g => (g.mkString(" "), id))
    }
    val dupDocs = grams.groupBy(_._1).values
      .filter(_.map(_._2).distinct.length > 1).flatten.map(_._2).toSet
    assert(rows.filter(_.getAs[Long]("covered") > 0)
      .map(_.getAs[Long]("doc_id")).toSet == dupDocs)
  }

  test("q78: histogram shares sum to 1 per language; quantiles sit at exact ranks") {
    val rows = SparkEntry.queries("q78_length_stats")(spark, d).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length)
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      // shares within a language sum to 1 (up to the 6dp rounding)
      val shareSum = rs.map(_.getAs[Double]("share")).sum
      assert(math.abs(shareSum - 1.0) < 1e-4, s"$lang shares sum $shareSum")
      // quantile columns are constant per language and ordered
      assert(rs.map(_.getAs[Long]("p50_chars")).distinct.length == 1)
      val (p50, p90) = (rs.head.getAs[Long]("p50_chars"), rs.head.getAs[Long]("p90_chars"))
      assert(p50 <= p90)
      // discrete quantile = value at rank ceil(q*n) of the sorted lengths
      val sorted = docs.filter(_._1 == lang).map(_._2).sorted
      assert(p50 == sorted(math.ceil(sorted.length * 0.5).toInt - 1))
      assert(p90 == sorted(math.ceil(sorted.length * 0.9).toInt - 1))
    }
  }

  test("q82: HLL registers bounded, estimate in the expected-error envelope, sketch merges") {
    val d1 = "/root/testdata/sf0.01" // enough shingles to leave the small-range regime
    val rows = SparkEntry.queries("q82_hll_distinct")(spark, d1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, exact, regs, est, err) =>
      assert(regs > 0 && regs <= 64, s"$lang regs $regs")
      assert(est > 0)
      // Raw HLL stderr at m=64 is ~13%; 3 sigma ≈ 40%. A violation
      // means broken register math, not bad luck (the inputs are fixed).
      assert(err <= 0.4, s"$lang rel_error $err (exact $exact est $est)")
      assert(math.abs(math.abs(est - exact) / exact - err) < 1e-3)
    }
    // Mergeability — THE property that makes the sketch a 100 TB tool:
    // registers built on two disjoint halves of the corpus, merged by
    // per-bucket max, must equal the registers built in one pass.
    import org.apache.spark.sql.functions._
    import graft.queries.QueryUtil._
    val sh = spark.read.parquet(s"$d1/documents.parquet")
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode_outer(shingles3(col("toks"))).as("g"))
      .where(col("g").isNotNull)
      .select(col("doc_id") % 2 === 0, md5(col("g")).as("hx")).toDF("half", "hx")
      .distinct()
      .select(col("half"),
        (conv(substring(col("hx"), 1, 2), 16, 10).cast("long") % 64).as("bucket"),
        conv(substring(col("hx"), 3, 15), 16, 10).cast("long").as("v"))
      .withColumn("rho", when(col("v") === 0, lit(61))
        .otherwise(lit(61) - length(bin(col("v")))))
    val merged = sh.groupBy("half", "bucket").agg(max("rho").as("r"))
      .groupBy("bucket").agg(max("r").as("r"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val onePass = sh.groupBy("bucket").agg(max("rho").as("r"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(merged.sameElements(onePass))
  }

  test("q83: CMS never underestimates, top-k exact counts descend, sketch merges by addition") {
    val d1 = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q83_cms_heavy_hitters")(spark, d1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    rows.foreach { case (term, exact, est, over) =>
      // THE CMS guarantee: collisions only ever add, so est >= exact.
      assert(est >= exact, s"$term est $est < exact $exact")
      assert(over == est - exact)
    }
    assert(rows.map(-_._2).toSeq == rows.map(-_._2).toSeq.sorted) // desc by n_exact
    // Heavy hitters should be estimated tightly: the expected collision
    // mass per cell is N/w, tiny relative to a top-20 count. Allow the
    // loose bound est <= exact + 3 * e/w * N (CMS Markov bound, 3x).
    import org.apache.spark.sql.functions._
    import graft.queries.QueryUtil._
    val occ = spark.read.parquet(s"$d1/documents.parquet")
      .select(explode(tokens(col("text"))).as("term"))
    val n = occ.count()
    val bound = 3.0 * math.E / 256 * n
    rows.foreach { case (term, exact, est, _) =>
      assert(est <= exact + bound, s"$term overest ${est - exact} > bound $bound")
    }
    // Mergeability: counters built per doc_id parity and summed cell-wise
    // must equal the one-pass counters (the property that lets daily
    // sketches fold into a corpus sketch without re-reading the corpus).
    val cells = spark.read.parquet(s"$d1/documents.parquet")
      .select(col("doc_id") % 2 === 0, explode(tokens(col("text"))).as("term"))
      .toDF("half", "term")
      .select(col("half"), col("term"),
        posexplode(array((0 until 4).map(i =>
          conv(substring(md5(concat(lit(s"$i:"), col("term"))), 1, 7), 16, 10)
            .cast("long") % 256): _*)).as(Seq("row", "cell")))
    val merged = cells.groupBy("half", "row", "cell").agg(count(lit(1)).as("c"))
      .groupBy("row", "cell").agg(sum("c").as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    val onePassC = cells.groupBy("row", "cell").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    assert(merged.sameElements(onePassC))
  }

  test("q91: drift estimates positive, union identity ties back to q82's estimate") {
    val d1 = "/root/testdata/sf0.01"
    val drift = SparkEntry.queries("q91_sketch_drift")(spark, d1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(drift.nonEmpty)
    val q82 = SparkEntry.queries("q82_hll_distinct")(spark, d1)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    drift.foreach { case (lang, exactInter, estA, estB, estInter, overlap, noise) =>
      assert(exactInter > 0, s"$lang: halves must share shingles")
      assert(estA > 0 && estB > 0 && noise > 0)
      // Inclusion-exclusion noise scales with the UNION size (the
      // operator reports that floor itself); bound the error at ~4
      // combined sigmas of it — a violation means broken register
      // math, not bad luck (inputs are fixed).
      assert(math.abs(estInter - exactInter) < 4 * noise,
        s"$lang est_inter $estInter vs exact $exactInter (noise $noise)")
      assert(math.abs(overlap - exactInter / (estA + estB - estInter)) < 1.0,
        s"$lang overlap $overlap")
      // Union identity: A∪B of the halves IS the whole corpus, so the
      // implied union estimate must equal q82's whole-corpus estimate
      // (both derived from the same registers; 4dp rounding slack ×3).
      val estU = estA + estB - estInter
      assert(math.abs(estU - q82(lang)) < 1e-3,
        s"$lang union ${estU} != q82 ${q82(lang)}")
    }
  }

  test("q85: bloom pre-pass output is byte-identical to q70 and actually prunes") {
    val d1 = "/root/testdata/sf0.01"
    def rows(q: String) = SparkEntry.queries(q)(spark, d1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    val bloom = rows("q85_dup_span_bloom")
    val plain = rows("q70_dup_span_coverage")
    // No false negatives + exact verify join ⇒ identical coverage.
    assert(bloom.sameElements(plain))
    // The pruning is real: unique windows vastly outnumber dup windows,
    // so the bloom must drop most of the coverage join's probe side.
    import org.apache.spark.sql.functions._
    import graft.queries.QueryUtil._
    val windows = spark.read.parquet(s"$d1/documents.parquet")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 8),
          i => md5(concat_ws(" ",
            (1 to 8).map(k => element_at(col("toks"), i + k)): _*)))).as("h"))
    val dups = windows.groupBy("h")
      .agg(countDistinct("doc_id").as("nd")).where(col("nd") > 1).select("h")
    val bf = dups.agg(call_function("graft_bloom_agg", xxhash64(col("h")), lit(1000000L)))
      .head.getAs[Array[Byte]](0)
    val total = windows.count()
    val kept = windows.where(
      call_function("graft_might_contain", lit(bf), xxhash64(col("h")))).count()
    assert(kept < total / 2, s"bloom kept $kept of $total windows — no pruning happened")
  }
}
