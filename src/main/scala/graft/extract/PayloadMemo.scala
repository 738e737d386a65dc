package graft.extract

import graft.model.{ExtractionRecord, KernelPage}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** One task's memo of kernel results, keyed by payload bytes.
  *
  * `kernel` is the stage's per-document function: one
  * `Processor.default.extract` at a fixed quality, or the two-pass
  * cascade (app.TwoPass.cascade), which picks between two such records
  * of one payload. A record is a pure function of `(html, quality)` apart
  * from `url` and `lang` (the invariant stated on [[Processor]]), so
  * either function is pure in `html` apart from those two. A repeat
  * within one task therefore reuses an earlier copy's record with only
  * `url` and `lang` taken from the current row; for the cascade a hit
  * skips both passes.
  *
  * What it saves depends on one input property: the share of a task's
  * rows whose payload is byte-identical to an earlier row of the same
  * task. Measured on generated inputs only: 76.5% on the standard
  * `PageGen` table (its non-article families replay fixed fixture
  * bytes), 5.9% on PageGen's crawl-size articles (its duplicate
  * clusters), 72.6% on the q43 frames. The share on a real crawl is not
  * measured. Where it is low, the memo costs one XXH64 pass over each
  * payload and a 256 KB array per task.
  *
  * Exact by construction: the hash only picks a bucket, and a hit needs
  * `java.util.Arrays.equals` on the full bytes, so two different
  * payloads never share an entry, whatever their hashes.
  *
  * Admission: a payload is kept at its second sighting, so payloads
  * seen once (most PageGen articles) are never retained; keeping
  * them raised GC time enough to slow low-repeat inputs. Sightings are
  * one hash per slot of a fixed array, so an overwritten slot only
  * delays admission.
  *
  * Bounded: the memo admits entries until their estimated heap
  * (`retainedCost`: payload, texts and a per-entry allowance) reaches
  * `capBytes`, then stops admitting (later misses are extracted and not
  * kept). Build one per task inside the `mapPartitions` closure; it is
  * garbage once the task ends.
  *
  * `capBytes` and `hash` are test seams; production uses the defaults.
  */
final class PayloadMemo(
    kernel: KernelPage => ExtractionRecord,
    capBytes: Long = PayloadMemo.CapBytes,
    hash: Array[Byte] => Int = PayloadMemo.hashBytes) {
  import PayloadMemo.Key

  private val table = new java.util.HashMap[Key, ExtractionRecord]()
  private val seen = new Array[Int](PayloadMemo.SeenSlots)
  private var retained = 0L

  /** Entries held. */
  def size: Int = table.size
  /** Sum of `retainedCost` over the entries held. */
  def retainedBytes: Long = retained

  /** `kernel(p)`, reusing an earlier result for the same payload bytes. */
  def extract(p: KernelPage): ExtractionRecord =
    if (p.html == null) kernel(p)
    else {
      val h = hash(p.html)
      val key = new Key(p.html, h)
      val hit = table.get(key)
      if (hit != null) hit.copy(url = p.url, lang = p.lang)
      else {
        val r = kernel(p)
        val slot = h & (seen.length - 1)
        val cost = PayloadMemo.retainedCost(p.html, r)
        if (seen(slot) != h) seen(slot) = h
        else if (retained + cost <= capBytes) {
          table.put(key, r)
          retained += cost
        }
        r
      }
    }
}

object PayloadMemo {
  /** Per-task retained-bytes cap: a few thousand typical pages, small
    * beside an executor's per-task share of heap.
    */
  val CapBytes: Long = 16L << 20
  private val SeenSlots = 1 << 16

  /** Estimated heap an entry holds: the payload, 2 bytes per char of the
    * record's text and of each page's text (a full record keeps both),
    * and a fixed allowance per entry (key, table node, record, its Seqs)
    * and per page.
    */
  def retainedCost(html: Array[Byte], r: ExtractionRecord): Long = {
    var chars = r.text.length.toLong
    r.pages.foreach(pg => chars += pg.text.length)
    html.length + 2 * chars + EntryBytes + PageBytes * r.pages.size
  }
  private val EntryBytes = 256L
  private val PageBytes = 128L

  /** Spark's XXH64 (the `xxhash64` SQL function), folded to 32 bits: it
    * reads 8 bytes per step, about 4× faster than MurmurHash3's byte
    * loop on a 20 KB page, where that loop costs about 5% of an extract.
    */
  def hashBytes(b: Array[Byte]): Int = {
    val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    (h ^ (h >>> 32)).toInt
  }

  private final class Key(val bytes: Array[Byte], override val hashCode: Int) {
    override def equals(o: Any): Boolean = o match {
      case k: Key => java.util.Arrays.equals(bytes, k.bytes)
      case _ => false
    }
  }
}
