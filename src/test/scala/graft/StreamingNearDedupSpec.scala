package graft

import graft.streaming.StreamingExtract
import org.apache.spark.sql.functions._

/** Streaming incremental near-dup dedup (the q53 operator per
  * micro-batch): within-batch LSH dedup, cross-batch dedup against the
  * accumulated signature store, idempotent per-batch output.
  */
class StreamingNearDedupSpec extends SparkSuite {

  private def doc(id: Long, text: String) = (id, text, "en", "src0", text.length.toLong)

  /** Token-disjoint per id — novel docs share NO shingles with each
    * other (a one-token suffix difference would leave J ≈ 0.78, i.e. a
    * near-dup).
    */
  private def novelText(id: Long) = (0 until 16).map(k => s"w${id}x$k").mkString(" ")
  private def novel(id: Long) = doc(id, novelText(id))
  /** Near-dup of `of`: one mid-text token changed → shingle Jaccard ≈
    * 0.67 (≥ 0.5 threshold) but not exact-equal.
    */
  private def nearDupOf(id: Long, of: Long) =
    doc(id, novelText(of).replace(s"w${of}x7", "changed"))

  test("near-dedup stream: within-batch and cross-batch dups dropped, store grows by novel docs") {
    import spark.implicits._
    val in = tmpDir("nd_in")
    val out = tmpDir("nd_out")
    val ckpt = tmpDir("nd_ckpt")
    val sig = tmpDir("nd_sig")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")

    // Wave 1: three novel docs + one near-dup within the wave + one
    // too-short doc (no shingles → trivially kept).
    Seq(novel(0L), novel(1L), novel(2L), nearDupOf(3L, 1L), doc(4L, "tiny doc"))
      .toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(in)
    StreamingExtract.nearDedupStream(spark, in, out, ckpt, sig).awaitTermination()

    val kept1 = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept1.toSeq == Seq(0L, 1L, 2L, 4L), "3 kept for within-wave near-dup")

    // Wave 2 (new file, same checkpoint → only it is processed): one
    // cross-batch near-dup of wave-1's doc 0, two novel docs, one exact
    // dup of wave-2's doc 11 (within-batch, higher id → dropped).
    Seq(nearDupOf(10L, 0L), novel(11L), novel(12L), doc(13L, novelText(11L)))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(in)
    StreamingExtract.nearDedupStream(spark, in, out, ckpt, sig).awaitTermination()

    val kept2 = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept2.toSeq == Seq(0L, 1L, 2L, 4L, 11L, 12L),
      "cross-batch near-dup of doc 0 dropped; novel wave-2 docs kept")

    // Signature store holds exactly the sketched NOVEL docs (doc 4 has
    // no shingles, so it is kept but never enters the store).
    val stored = spark.read.parquet(sig).select("doc_id").as[Long].collect().sorted
    assert(stored.toSeq == Seq(0L, 1L, 2L, 11L, 12L))

    // Replaying a batch id is idempotent: rewrite batch 0's partition
    // with the same input and nothing changes. (This is the retry case
    // where the failed attempt already wrote its signatures — the store
    // must not judge the batch against itself.)
    val wave1 = spark.read.parquet(in)
      .where(col("doc_id") < 10).select("doc_id", "text", "lang")
    val before = spark.read.parquet(out).orderBy("doc_id").collect().toSeq
    StreamingExtract.nearDedupBatch(wave1, 0L, out, sig)
    val after = spark.read.parquet(out).orderBy("doc_id").collect().toSeq
    assert(after == before, "replay of batch 0 is byte-idempotent")
  }

  test("near-dedup stream == q53-shaped batch verdicts on one wave") {
    import spark.implicits._
    val in = tmpDir("ndq_in")
    val out = tmpDir("ndq_out")
    val ckpt = tmpDir("ndq_ckpt")
    val sig = tmpDir("ndq_sig")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // Corpus from the shared test table; one wave = the full table, so
    // the streamed result must equal the batch within-corpus dedup
    // (keep the min doc_id of every verified near-dup pair).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(in)
    StreamingExtract.nearDedupStream(spark, in, out, ckpt, sig).awaitTermination()

    val sk = graft.queries.Sketch.sketch(docs).localCheckpoint()
    val bands = graft.queries.Sketch.bandRows(sk)
    val dropped = bands.withColumnRenamed("doc_id", "doc_a")
      .join(bands.withColumnRenamed("doc_id", "doc_b"), Seq("band_id", "band_sig"))
      .where(col("doc_a") > col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .join(sk.select(col("doc_id").as("doc_a"), col("hsh").as("h_a")), Seq("doc_a"))
      .join(sk.select(col("doc_id").as("doc_b"), col("hsh").as("h_b")), Seq("doc_b"))
      .where(graft.queries.Sketch.jaccard(col("h_a"), col("h_b")) >= 0.5)
      .select("doc_a").as[Long].collect().toSet
    val expected = docs.select("doc_id").as[Long].collect().toSet -- dropped
    val streamed = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(streamed == expected)
    assert(dropped.nonEmpty, "the near-dup corpus should drop something")
  }

  test("batch verdicts read the store the STREAMING path wrote (one layout)") {
    import spark.implicits._
    val in = tmpDir("nds_in")
    val out = tmpDir("nds_out")
    val ckpt = tmpDir("nds_ckpt")
    val sig = tmpDir("nds_sig")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    Seq(novel(0L), novel(1L), novel(2L))
      .toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(in)
    StreamingExtract.nearDedupStream(spark, in, out, ckpt, sig).awaitTermination()

    // A later BATCH ingest judges against the store the stream wrote:
    // same layout, no re-sketching of the corpus side.
    val batch = Seq(nearDupOf(20L, 1L), novel(21L)).toDF(cols: _*)
      .select("doc_id", "text")
    val v = graft.queries.SignatureStore.verdictsAgainst(
        batch, graft.queries.SignatureStore.read(spark, sig))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("verdict"), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(v(20L) == ("dup", Some(1L)), s"stored near-dup must be caught: $v")
    assert(v(21L) == ("kept", None), s"novel doc must be kept: $v")

    // And the reverse direction: a store written by the BATCH API is
    // what the streaming micro-batch judges against (same dir). The
    // pre-seed uses a NEGATIVE ingest id — stream batches only judge
    // against strictly-earlier partitions (the replay contract), so a
    // corpus seed must sort below every future batch id.
    graft.queries.SignatureStore.write(
      Seq(novel(30L)).toDF(cols: _*).select("doc_id", "text"), sig, -1L)
    Seq(nearDupOf(40L, 30L), novel(41L))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(in)
    StreamingExtract.nearDedupStream(spark, in, out, ckpt, sig).awaitTermination()
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(40L), "streaming must drop the near-dup of the batch-written doc")
    assert(kept.contains(41L))
  }

  test("q53s (store-backed) verdicts equal q53 (in-plan staging) verdicts") {
    val sf = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("q53_incremental_dedup")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q53s_dedup_store")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "store round-trip must lose nothing vs in-plan staging")
    assert(a.exists(_(1) == "dup"), "corpus should contain at least one dup verdict")
  }
}
