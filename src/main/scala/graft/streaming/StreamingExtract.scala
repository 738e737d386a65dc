package graft.streaming

import graft.model.Page
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming surface: two incremental streams, each running
  * the same code as its batch form.
  *
  * The reference has no stream processing (SURVEY.md §2.9) — its async
  * job layer is batch-with-progress, which maps to ExtractJob. The
  * graft adds two streams over continuously-fed tables:
  *  - `extractStream` / `runAvailableNow`: incremental extraction of a
  *    pages table through the batch kernel stage (`readStream` →
  *    `ExtractJob.extractKernel` → `writeStream`), with exactly-once
  *    parquet output via the streaming checkpoint. The kernel stage is
  *    stateless map-only (no state store).
  *  - `nearDedupStream` / `nearDedupBatch`: the q53 near-dup engine
  *    (queries.Sketch) per micro-batch of a documents table, against a
  *    signature store (queries.SignatureStore) that accumulates across
  *    batches.
  */
object StreamingExtract {

  /** Read-schema of the synthetic `documents` table (TESTDATA.md). */
  private val DocumentsSchema =
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

  /** Incremental extraction over a parquet directory source, through the
    * batch kernel stage (app.ExtractJob.extractKernel) — the unused
    * golden `text` column never leaves the parquet reader.
    */
  def extractStream(spark: SparkSession, inputDir: String, quality: String): DataFrame =
    graft.app.ExtractJob.extractKernel(
      spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Page].schema)
        .parquet(inputDir),
      quality)

  /** Run to completion over currently-available files (AvailableNow =
    * bounded run with streaming semantics + checkpoint resume), writing
    * extraction records as parquet.
    */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      quality: String = "balanced"): StreamingQuery = {
    extractStream(spark, inputDir, quality)
      .select("url", "pdf_type", "total_pages", "text", "word_count",
        "extraction_method", "confidence", "success", "quality", "lang")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Incremental NEAR-dup dedup over a continuously-fed documents table:
    * each micro-batch is MinHash-sketched and judged by queries.Sketch
    * (the q24p/q53 near-dup engine) against (a) itself and (b) the
    * signature store accumulated from every earlier batch; only novel
    * documents are emitted. This is the streaming form of the
    * oracle-verified q53 operator — `foreachBatch` + an explicit
    * signature table instead of a keyed state store, because the LSH
    * verdict needs cross-key coordination (a document's B bands must be
    * judged together) that single-key `mapGroupsWithState` cannot
    * express, and because the signature table IS the artifact a
    * production pipeline wants (the corpus side of every future
    * ingest's band join, per q53's scale note).
    *
    * Exactly-once: `foreachBatch` is at-least-once, so both sinks write
    * to `batch_id=<id>` subdirectories with overwrite — a replayed
    * batch rewrites its own partition byte-identically. Within a batch
    * the lower doc_id survives; against the store the arriving doc is
    * always the one dropped. Greedy pair-drop (not clustering): if A
    * drops B and corpus-dup C also drops A's batch-mate, a cluster can
    * lose all batch members — the q35 component pass is the clustering
    * variant (same trade documented at CorpusPipeline's near-dup stage).
    *
    * Scale: per-ingest COMPUTE is O(batch) — sketching happens only on
    * arriving documents, the store ships precomputed 64-bit band keys
    * (no re-hashing on read), and the store is never self-joined. The
    * band join still SCANS the store's compact key rows each trigger
    * (8 longs + the verify array per novel doc ever); at cluster scale
    * that side is bucketed by band_sig so the join is co-located and
    * the scan prunes to the batch's buckets. The store grows one row
    * per NOVEL document, not per arrival.
    */
  def nearDedupStream(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      sigDir: String): StreamingQuery =
    spark.readStream
      .schema(DocumentsSchema)
      .parquet(inputDir)
      .select("doc_id", "text", "lang")
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        nearDedupBatch(batch, batchId, outDir, sigDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One micro-batch of the incremental near-dup (also the unit a batch
    * backfill calls directly, one invocation per ingest).
    */
  def nearDedupBatch(
      batchDf: DataFrame,
      batchId: Long,
      outDir: String,
      sigDir: String): Unit = {
    import graft.queries.{SignatureStore, Sketch}
    // foreachBatch hands a Dataset bound to a CLONED SparkSession (the
    // micro-batch's isolated session state); the store is read through
    // it. A clone keeps the functions `SparkUtil.session` installed.
    val s = batchDf.sparkSession
    val batch = batchDf.localCheckpoint()
    // Band signatures are computed once here and PERSISTED with the
    // sketch, so later batches' band joins read precomputed 64-bit keys
    // instead of re-hashing the whole store every trigger.
    val sk = Sketch.withBands(Sketch.sketch(batch)).localCheckpoint()

    // Signature store from earlier batches (absent on the first). Keep
    // only PRIOR partitions (batch_id < batchId, via SignatureStore.read
    // — the single owner of the store layout):
    //  - a foreachBatch retry may run after the failed attempt already
    //    wrote this batch's signatures — judging a batch against its own
    //    sketches would drop every document as a dup of itself;
    //  - a backfill REPLAY of an older batchId after later batches
    //    committed must see exactly the store that batch saw originally,
    //    or the replay changes that partition's output (batch ids are
    //    monotone, so "<" is precisely "what existed when this batch
    //    first ran"). Partition pruning makes the filter free.
    val store: Option[DataFrame] = {
      val path = new org.apache.hadoop.fs.Path(sigDir)
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(path) && fs.listStatus(path).nonEmpty)
        Some(SignatureStore.read(s, sigDir, beforeBatch = Some(batchId)))
      else None
    }

    // Dropped: the larger doc_id of every within-batch pair, and every
    // batch doc matching the store (the store doc always survives).
    val inBatch = Sketch.nearDupPairs(sk, Sketch.explodeBands(sk), "doc_id", "keep", "drop")
      .select(col("drop").as("doc_id"))
    val dups = store
      .map(st => inBatch.union(Sketch.storeMatches(sk, st).select(col("b_id").as("doc_id"))))
      .getOrElse(inBatch).distinct()

    val kept = batch.join(dups, Seq("doc_id"), "left_anti")
    kept.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // Novel documents' sketches extend the store (idempotent per
    // batch); `sigs` is dropped — future joins need only the verify
    // arrays and the precomputed band keys. SignatureStore.writeRows
    // owns the layout (one schema for batch and streaming).
    SignatureStore.writeRows(sk.join(dups, Seq("doc_id"), "left_anti"), sigDir, batchId)
  }
}
