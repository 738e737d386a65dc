package graft.app

import graft.extract.Processor
import graft.model.{Enums, ExtractionRecord, KernelPage}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** K6 — the reference's two-pass enrich-then-reprocess pipeline shape
  * (examples/two_pass_ocr_processor_original.py:225-324: pass 1 runs
  * the expensive path over the FLAGGED page subset and its output
  * feeds pass 2), re-expressed as one decision per document:
  *
  *   pass 1: cheap extraction (`fast` — never OCR);
  *   flag:   the pass-1 record decides whether the document deserves
  *           more work (failed, empty, or below-full confidence);
  *   pass 2: expensive extraction (`accurate`) of a flagged document
  *           only — pass-1 output literally selects pass-2's input;
  *   keep:   the better record (more words; tie → the accurate pass),
  *           tagged with `pass` ∈ {1,2}.
  *
  * The reference's second pass injects pass-1 text into an LLM prompt —
  * non-deterministic and out of scope (SURVEY §2.8); the deterministic
  * core being pinned here is the SHAPE any model-in-the-loop stage
  * needs: extract → flag → re-extract the flagged → keep the better.
  *
  * Scale shape: a record depends only on the payload apart from `url`
  * and `lang` (the invariant on extract.Processor), so the cascade is a
  * function of one row. It runs inside the one map-only kernel stage
  * (ExtractJob.kernelStage): the html is scanned once, nothing
  * shuffles, and each row, revisit snapshots of one url included, gets
  * its own result. The stage's payload memo covers the cascade, so a
  * repeated payload skips both passes.
  */
object TwoPass {

  /** Whether a pass-1 record warrants the expensive pass. */
  def needsSecondPass(r: ExtractionRecord): Boolean =
    !r.success || r.word_count == 0 || r.confidence < 1.0

  /** The quality a two-pass wave's lineage rows record: its rows come
    * from both passes, never from `--quality`.
    */
  val Quality: String = s"${Enums.Fast}+${Enums.Accurate}"

  /** One document's cascade: its `fast` record, or, when that record is
    * flagged, its `accurate` record if that has at least as many words.
    */
  def cascade(p: KernelPage): ExtractionRecord = {
    val r1 = Processor.default.extract(p, Enums.Fast)
    if (!needsSecondPass(r1)) r1
    else {
      val r2 = Processor.default.extract(p, Enums.Accurate)
      if (r2.word_count >= r1.word_count) r2 else r1
    }
  }

  /** The kernel stage with `cascade` per row, plus `pass`: every pass-2
    * record carries quality `accurate` and every pass-1 record `fast`.
    */
  def extract(pages: Dataset[_]): DataFrame =
    ExtractJob.kernelStage(pages, cascade)
      .withColumn("pass", when(col("quality") === Enums.Accurate, 2).otherwise(1))
}
