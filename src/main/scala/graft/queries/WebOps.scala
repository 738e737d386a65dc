package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryUtil._

/** Web-corpus curation operators: URL canonicalization, PII redaction,
  * and Gopher/C4-style quality filtering — the standard published
  * pre-training curation steps (C4: Raffel et al. 2020 §2.2; Gopher:
  * Rae et al. 2021 appendix A1.1) a crawl pipeline runs between fetch
  * and dedup. All three are map-only (no shuffle until the final
  * ORDER BY the driver needs for comparison) and oracle-checked: the
  * DuckDB side mirrors each regex chain exactly (RE2-safe patterns —
  * no lookarounds or backrefs — with explicit 'g' flags; Spark's
  * regexp_replace is global by default).
  *
  * URLs/PII are planted deterministically from doc_id with the SAME
  * expression on both engines (the q44 corruption-oracle pattern): the
  * documents table has no url column, and its text carries no PII —
  * planting inputs keeps the operators honestly end-to-end-tested
  * without external data.
  */
object WebOps {

  type Q = (String, (SparkSession, String) => DataFrame, Option[String])

  val defs: Seq[Q] = Seq(

    // ---- URL canonicalization: lowercase scheme/host, strip www. and
    // default ports, collapse duplicate path slashes, drop utm_*
    // tracking params and fragments. The dedup key for recrawled pages
    // — at corpus scale this runs before the content hash so mirror
    // URLs collapse.
    ("q54_url_canonical",
      (s, d) => {
        val url = concat(
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTPS://WWW.Site"), col("doc_id") % 5,
              lit(".COM:443/a//b/p"), col("doc_id"),
              lit("?utm_source=feed&x="), col("doc_id"), lit("#top")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://site"), col("doc_id") % 5,
              lit(".com/a/b/p"), col("doc_id"), lit("?x="), col("doc_id")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("http://Site"), col("doc_id") % 5,
              lit(".com:80/a//b//p"), col("doc_id"),
              lit("?utm_campaign=c&utm_medium=m")))
          .otherwise(
            concat(lit("https://m.site"), col("doc_id") % 5,
              lit(".com/p"), col("doc_id"), lit("#frag"))))
        val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
        val host0 = lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1))
        val host = regexp_replace(
          regexp_replace(host0, "^www\\.", ""), ":(80|443)$", "")
        val path0 = regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
        val path = when(length(path0) === 0, lit("/"))
          .otherwise(regexp_replace(path0, "/{2,}", "/"))
        val query0 = regexp_extract(col("url"), "\\?([^#]*)", 1)
        val query = regexp_replace(
          regexp_replace(query0, "utm_[^&]*&", ""), "&?utm_[^&]*$", "")
        tbl(s, d, "documents")
          .withColumn("url", url)
          .withColumn("canonical_url",
            concat(scheme, lit("://"), host, path,
              when(length(query) > 0, concat(lit("?"), query)).otherwise(lit(""))))
          .select("doc_id", "url", "canonical_url")
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id, CASE
               WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.Site' || (doc_id % 5) || '.COM:443/a//b/p' || doc_id || '?utm_source=feed&x=' || doc_id || '#top'
               WHEN doc_id % 4 = 1 THEN 'https://site' || (doc_id % 5) || '.com/a/b/p' || doc_id || '?x=' || doc_id
               WHEN doc_id % 4 = 2 THEN 'http://Site' || (doc_id % 5) || '.com:80/a//b//p' || doc_id || '?utm_campaign=c&utm_medium=m'
               ELSE 'https://m.site' || (doc_id % 5) || '.com/p' || doc_id || '#frag' END AS url
             FROM documents),
             parts AS (SELECT doc_id, url,
               lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
               regexp_replace(regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), '^www\.', ''), ':(80|443)$', '') AS host,
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
               regexp_replace(regexp_replace(regexp_extract(url, '\?([^#]*)', 1), 'utm_[^&]*&', '', 'g'), '&?utm_[^&]*$', '') AS q
             FROM u)
             SELECT doc_id, url,
               scheme || '://' || host ||
               (CASE WHEN length(path0) = 0 THEN '/' ELSE regexp_replace(path0, '/{2,}', '/', 'g') END) ||
               (CASE WHEN length(q) > 0 THEN '?' || q ELSE '' END) AS canonical_url
             FROM parts ORDER BY doc_id""")),

    // ---- PII redaction: emails, then IPv4s, then phone-shaped tokens →
    // typed placeholders, with per-kind counts and the md5 of the
    // redacted text as the cross-engine proof. Map-only; at corpus
    // scale this fuses into the same pass as quality scoring.
    ("q55_pii_redact",
      (s, d) => {
        val planted = concat(col("text"),
          lit(" Contact user"), col("doc_id"), lit("@mail.example.com or +1-555-"),
          col("doc_id") % 90 + 10, lit(" ip 10.0."), col("doc_id") % 256, lit(".7"))
        val emailPat = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
        val phonePat = "\\+1-555-[0-9]{2,4}"
        tbl(s, d, "documents")
          .withColumn("t", planted)
          .withColumn("n_emails", size(regexp_extract_all(col("t"), lit(emailPat), lit(0))))
          .withColumn("n_ips", size(regexp_extract_all(col("t"), lit(ipPat), lit(0))))
          .withColumn("n_phones", size(regexp_extract_all(col("t"), lit(phonePat), lit(0))))
          .withColumn("redacted",
            regexp_replace(regexp_replace(regexp_replace(col("t"),
              emailPat, "<EMAIL>"), ipPat, "<IP>"), phonePat, "<PHONE>"))
          .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
            md5(col("redacted")).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
               text || ' Contact user' || doc_id || '@mail.example.com or +1-555-' ||
               (doc_id % 90 + 10) || ' ip 10.0.' || (doc_id % 256) || '.7' AS t
             FROM documents)
             SELECT doc_id,
               CAST(len(regexp_extract_all(t, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS n_ips,
               CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{2,4}')) AS INT) AS n_phones,
               md5(regexp_replace(regexp_replace(regexp_replace(t,
                 '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
                 '\+1-555-[0-9]{2,4}', '<PHONE>', 'g')) AS redacted_md5
             FROM t ORDER BY doc_id""")),

    // ---- Gopher-style quality filters (Rae et al. 2021 A1.1 subset):
    // mean word length in [3,10], ≥80% of words contain an alphabetic
    // char, symbol-to-word ratio ≤ 0.1, ≤30% of lines end in an
    // ellipsis. Per-doc metrics + the keep verdict a curation pass
    // would filter on. Map-only.
    ("q56_quality_filters",
      (s, d) => {
        val t = docToks(s, d)
          .withColumn("n_toks", size(col("toks")))
          .where(col("n_toks") > 0)
          .withColumn("mean_word_len",
            round(aggregate(col("toks"), lit(0L),
              (acc, x) => acc + length(x)).cast("double") / col("n_toks"), 6))
          .withColumn("alpha_frac",
            round(size(filter(col("toks"), x => x.rlike("[a-z]"))).cast("double") /
              col("n_toks"), 6))
          .withColumn("symbol_ratio",
            round(size(regexp_extract_all(col("text"), lit("[#…]|\\.\\.\\."), lit(0)))
              .cast("double") / col("n_toks"), 6))
          .withColumn("lines", split(col("text"), "\n"))
          .withColumn("ellipsis_frac",
            round(size(filter(col("lines"), x => x.rlike("(\\.\\.\\.|…)\\s*$")))
              .cast("double") / size(col("lines")), 6))
        t.withColumn("keep",
            col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
            col("alpha_frac") >= 0.8 && col("symbol_ratio") <= 0.1 &&
            col("ellipsis_frac") <= 0.3)
          .select("doc_id", "n_toks", "mean_word_len", "alpha_frac",
            "symbol_ratio", "ellipsis_frac", "keep")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, text, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             m AS (SELECT doc_id, text, len(toks) AS n_toks,
                     round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks), 6) AS mean_word_len,
                     round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks), 6) AS alpha_frac,
                     round(CAST(len(regexp_extract_all(text, '[#…]|\.\.\.')) AS DOUBLE) / len(toks), 6) AS symbol_ratio,
                     round(CAST(len(list_filter(string_split(text, chr(10)), x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE) / len(string_split(text, chr(10))), 6) AS ellipsis_frac
                   FROM t WHERE len(toks) > 0)
             SELECT doc_id, CAST(n_toks AS INT) AS n_toks, mean_word_len, alpha_frac,
               symbol_ratio, ellipsis_frac,
               (mean_word_len >= 3 AND mean_word_len <= 10 AND alpha_frac >= 0.8
                AND symbol_ratio <= 0.1 AND ellipsis_frac <= 0.3) AS keep
             FROM m ORDER BY doc_id""")),

    // ---- Repetition filter (Gopher A1.1 "duplicate n-grams" family):
    // fraction of token trigrams that are repeats of an earlier trigram
    // (1 - distinct/total). High values mark template/spam text a
    // curation pass drops. Map-only.
    ("q61_repetition_filter",
      (s, d) => {
        val t = tbl(s, d, "documents")
          .withColumn("toks", tokens(col("text")))
          .where(size(col("toks")) >= 3)
          .withColumn("n_tri", (size(col("toks")) - 2))
          .withColumn("tris",
            transform(sequence(lit(0), size(col("toks")) - 3),
              i => concat_ws(" ", element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2), element_at(col("toks"), i + 3))))
        t.withColumn("dup_tri_frac",
            round(lit(1.0) - size(array_distinct(col("tris"))).cast("double") /
              col("n_tri"), 6))
          .select(col("doc_id"), col("n_tri"),
            col("dup_tri_frac"), (col("dup_tri_frac") <= 0.3).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             m AS (SELECT doc_id, len(toks) - 2 AS n_tri,
                     list_transform(range(1, greatest(len(toks)-1,1)),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tris
                   FROM t WHERE len(toks) >= 3)
             SELECT doc_id, CAST(n_tri AS INT) AS n_tri,
               round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / n_tri, 6) AS dup_tri_frac,
               (round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / n_tri, 6) <= 0.3) AS keep
             FROM m ORDER BY doc_id""")),

    // ---- Model-based quality scoring (the CCNet/Gopher "quality
    // classifier" curation stage — a linear model over cheap text
    // features with a sigmoid, here with FIXED planted weights so both
    // engines score identically; production swaps in trained weights,
    // same plan): z = w·(n_toks, stopword_frac, alpha_frac,
    // |mean_word_len − 5|) + b, score = σ(z). Features are the q26/q56
    // primitives; the only cross-engine float risk is exp()'s last ulp,
    // killed by round(…,6) BEFORE the keep threshold (both engines
    // compare the same rounded value). Map-only at any scale; the
    // trained-weights variant broadcasts one tiny weight vector.
    ("q76_quality_classifier",
      (s, d) => {
        val t = docToks(s, d)
          .withColumn("n_toks", size(col("toks")))
          .where(col("n_toks") > 0)
          .withColumn("stop_frac",
            size(regexp_extract_all(lower(col("text")),
              lit("\\b(the|and|of|to|a)\\b"), lit(0))).cast("double") / col("n_toks"))
          .withColumn("alpha_frac",
            size(filter(col("toks"), x => x.rlike("[a-z]"))).cast("double") /
              col("n_toks"))
          .withColumn("mwl",
            aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).cast("double") /
              col("n_toks"))
          .withColumn("z",
            lit(-3.0) + lit(0.01) * col("n_toks") + lit(8.0) * col("stop_frac") +
              lit(2.0) * col("alpha_frac") - lit(0.5) * abs(col("mwl") - lit(5.0)))
          .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        t.select(col("doc_id"), col("n_toks"),
            round(col("stop_frac"), 6).as("stop_frac"),
            col("score"), (col("score") >= 0.5).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, text, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             f AS (SELECT doc_id, len(toks) AS n_toks,
                     CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b')) AS DOUBLE) / len(toks) AS stop_frac,
                     CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) AS alpha_frac,
                     CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) AS mwl
                   FROM t WHERE len(toks) > 0),
             z AS (SELECT doc_id, n_toks, stop_frac,
                     -3.0 + 0.01 * n_toks + 8.0 * stop_frac + 2.0 * alpha_frac
                       - 0.5 * abs(mwl - 5.0) AS z
                   FROM f)
             SELECT doc_id, CAST(n_toks AS INT) AS n_toks,
               round(stop_frac, 6) AS stop_frac,
               round(1.0 / (1.0 + exp(-z)), 6) AS score,
               (round(1.0 / (1.0 + exp(-z)), 6) >= 0.5) AS keep
             FROM z ORDER BY doc_id""")),

    // ---- URL-revisit dedup: Common Crawl refetches popular pages
    // every snapshot, so a crawl table carries many (url, warc_ts)
    // rows per page — the curation step keeps only the NEWEST snapshot
    // per canonical url (cf. CC's `revisit` record type / CDX dedup).
    // Planted (url, ts) from doc_id, q54-pattern. Expressed as a plain
    // aggregation with max_by — algebraic, so it map-side-combines and
    // never materializes the per-url snapshot list (the window/
    // row_number formulation q07 uses would sort every group). One
    // shuffle on url; at 10^12 rows hot urls are rare (revisit counts
    // are bounded by crawl frequency) so no salting is needed —
    // AQE's skew split covers pathological hosts.
    ("q77_url_revisit",
      (s, d) => {
        val urlKey = col("doc_id") % 120
        tbl(s, d, "documents")
          .select(col("doc_id"),
            concat(lit("https://site"), urlKey % 7, lit(".com/page/"), urlKey).as("url"),
            (lit(1600000000L) + (col("doc_id") * 7919) % 100000).as("ts_s"))
          .groupBy("url")
          // Tie-break: max by (ts_s, doc_id), matching the streaming
          // twin's documented preference for the larger doc_id on equal
          // timestamps — bare max_by(doc, ts) is non-deterministic on
          // ties. Spark could order by struct(ts_s, doc_id) directly;
          // DuckDB 1.0's arg_max lacks struct keys, so both sides use
          // the zero-padded string composite — lexicographic on padded
          // digits IS numeric (ts, doc) order, with no magnitude bound
          // (an arithmetic composite like ts·10^9+doc silently corrupts
          // once doc_id crosses the multiplier).
          .agg(count(lit(1)).as("n_snapshots"),
            max_by(col("doc_id"),
              concat(lpad(col("ts_s").cast("string"), 19, "0"),
                lpad(col("doc_id").cast("string"), 19, "0")))
              .as("kept_doc_id"),
            min("ts_s").as("first_ts_s"),
            max("ts_s").as("last_ts_s"))
          .orderBy("url")
      },
      Some("""WITH u AS (SELECT doc_id,
               'https://site' || ((doc_id % 120) % 7) || '.com/page/' || (doc_id % 120) AS url,
               1600000000 + (doc_id * 7919) % 100000 AS ts_s
             FROM documents)
             SELECT url,
               CAST(count(*) AS BIGINT) AS n_snapshots,
               arg_max(doc_id, lpad(CAST(ts_s AS VARCHAR), 19, '0') || lpad(CAST(doc_id AS VARCHAR), 19, '0')) AS kept_doc_id,
               CAST(min(ts_s) AS BIGINT) AS first_ts_s,
               CAST(max(ts_s) AS BIGINT) AS last_ts_s
             FROM u GROUP BY url ORDER BY url""")),

    // ---- Crawl-snapshot diff: classify every url across two crawl
    // snapshots as added / removed / changed / unchanged by full-outer
    // join on url with content-digest comparison — the incremental-
    // ingest primitive (process only added+changed downstream instead
    // of re-extracting the whole crawl). Planted snapshots from doc_id
    // (A drops ids ≡9 mod 10, B drops ≡0, content bumps when ≡0 mod 7).
    // One shuffle per side on url; in the real deployment both snapshot
    // tables are bucket-clustered by url hash (app.TableIO's layout),
    // making the diff join co-located and shuffle-free.
    ("q81_snapshot_diff",
      (s, d) => {
        val base = tbl(s, d, "documents").select(col("doc_id"), col("text"),
          concat(lit("https://site"), col("doc_id") % 5, lit(".com/p"), col("doc_id")).as("url"))
        val a = base.where(col("doc_id") % 10 =!= 9)
          .select(col("url"), md5(col("text")).as("digest_a"))
        val b = base.where(col("doc_id") % 10 =!= 0)
          .select(col("url"), md5(concat(col("text"),
            when(col("doc_id") % 7 === 0, lit(" v2")).otherwise(lit("")))).as("digest_b"))
        a.join(b, Seq("url"), "full_outer")
          .select(col("url"),
            when(col("digest_a").isNull, "added")
              .when(col("digest_b").isNull, "removed")
              .when(col("digest_a") === col("digest_b"), "unchanged")
              .otherwise("changed").as("status"))
          .orderBy("url")
      },
      Some("""WITH base AS (SELECT doc_id, text,
               'https://site' || (doc_id % 5) || '.com/p' || doc_id AS url FROM documents),
             a AS (SELECT url, md5(text) AS digest_a FROM base WHERE doc_id % 10 != 9),
             b AS (SELECT url, md5(text || CASE WHEN doc_id % 7 = 0 THEN ' v2' ELSE '' END) AS digest_b
                   FROM base WHERE doc_id % 10 != 0)
             SELECT coalesce(a.url, b.url) AS url,
               CASE WHEN a.url IS NULL THEN 'added'
                    WHEN b.url IS NULL THEN 'removed'
                    WHEN digest_a = digest_b THEN 'unchanged'
                    ELSE 'changed' END AS status
             FROM a FULL OUTER JOIN b ON a.url = b.url
             ORDER BY url""")),

    // ---- Compression-ratio quality signal (standard curation feature:
    // text that deflates too well is repetitive/templated — a
    // complement to q61's explicit trigram measure, catching repeats at
    // ANY granularity). zlib level 6, one Deflater reused per
    // partition; deterministic (zlib output is a pure function of
    // input+level). Rows-only: DuckDB exposes no deflate, so exact
    // values are pinned by WebOpsSpec instead of an oracle. Map-only at
    // scale.
    ("x63_compression_ratio",
      (s, d) => {
        import s.implicits._
        tbl(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions { it =>
            val deflater = new java.util.zip.Deflater(6)
            // Release the native zlib buffers on EVERY task exit path —
            // a limit/take that abandons the iterator mid-partition, or
            // a task failure, must not leak off-heap memory until GC.
            // (An end-of-iterator hook only fires on full drains.)
            Option(org.apache.spark.TaskContext.get()).foreach(
              _.addTaskCompletionListener[Unit](_ =>
                try deflater.end() catch { case _: Throwable => }))
            val buf = new Array[Byte](8192)
            it.map { case (id, text) =>
              val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              deflater.reset()
              deflater.setInput(raw); deflater.finish()
              var n = 0L
              while (!deflater.finished()) n += deflater.deflate(buf)
              val ratio = if (raw.length == 0) 1.0 else n.toDouble / raw.length
              (id, raw.length.toLong, n, math.round(ratio * 1e6) / 1e6, ratio < 0.35)
            }
          }.toDF("doc_id", "raw_bytes", "deflated_bytes", "ratio", "repetitive")
          .orderBy("doc_id")
      }, None),

    // ---- Host-graph PageRank (Brin & Page 1998): the link-centrality
    // signal crawl scheduling and domain-quality filtering consume
    // (Common Crawl publishes exactly this per-host table). Edges are
    // planted from doc_id (q44/q87 convention): src = the q80 host id,
    // dst = (doc_id·7+3) mod 40 — 7 ⊥ 40, so every host has out-edges
    // and the dangling-mass term is structurally zero here (production
    // adds it back as one scalar agg broadcast per iteration). Five
    // damped iterations (d=0.85), r ← 0.15/N + 0.85·Σ_{u→v} r(u)/deg(u).
    // Scale shape — the ITERATIVE join-agg pattern: per iteration one
    // src-key join and one dst-key partial agg, contributions carry
    // (dst, r/deg) pairs only; ranks are localCheckpointed per round
    // (lineage truncation — without it the plan doubles every
    // iteration, the classic iterative-Spark failure); at 10^8 hosts
    // edges are bucketed by src so the join is co-located and the only
    // shuffle is the contribution agg. Fixed iteration count ⇒ O(5)
    // shuffles total.
    ("q89_host_pagerank",
      (s, d) => {
        val docs = tbl(s, d, "documents").select(col("doc_id"))
        val edges = docs.select(
            when(col("doc_id") % 3 === 0, lit(0L))
              .otherwise(col("doc_id") % 40).as("src"),
            ((col("doc_id") * 7 + 3) % 40).as("dst"))
          .where(col("src") =!= col("dst")).distinct()
          .localCheckpoint()
        val nodes = edges.select(col("src").as("h"))
          .union(edges.select(col("dst").as("h"))).distinct().localCheckpoint()
        val n = nodes.count().toDouble
        // deg is read by all 5 iterations; each iteration's
        // localCheckpoint forces a separate execution and ReuseExchange
        // does not span executions, so without its own checkpoint the
        // out-degree shuffle would run once PER iteration.
        val deg = edges.groupBy("src").agg(count(lit(1)).cast("double").as("dg"))
          .localCheckpoint()
        // Float contract (QueryUtil scaladoc): the per-dst contribution
        // sum is an order-sensitive double fold, like q72/q88's log
        // sums — the 6dp output round absorbs accumulation-order ulps.
        var r = nodes.select(col("h"), lit(1.0 / n).as("r"))
        for (_ <- 1 to 5) {
          val contrib = edges
            .join(r.withColumnRenamed("h", "src"), Seq("src"))
            .join(deg, Seq("src"))
            .groupBy(col("dst")).agg(sum(col("r") / col("dg")).as("cs"))
            .withColumnRenamed("dst", "h")
          r = nodes.join(contrib, Seq("h"), "left")
            .select(col("h"),
              (lit(0.15 / n) + lit(0.85) * coalesce(col("cs"), lit(0.0))).as("r"))
            .localCheckpoint()
        }
        r.select(col("h").as("host"), round(col("r"), 6).as("rank"))
          .orderBy("host")
      },
      Some("""WITH e0 AS (SELECT CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 40 END AS src,
                    (doc_id * 7 + 3) % 40 AS dst FROM documents),
             edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),
             nodes AS (SELECT src AS h FROM edges UNION SELECT dst FROM edges),
             nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
             deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS dg FROM edges GROUP BY 1),
             r0 AS (SELECT h, 1.0 / n AS r FROM nodes CROSS JOIN nn),
             c1 AS (SELECT dst AS h, sum(r0.r / deg.dg) AS cs FROM edges
                    JOIN r0 ON edges.src = r0.h JOIN deg ON edges.src = deg.src GROUP BY dst),
             r1 AS (SELECT nodes.h, 0.15 / n + 0.85 * coalesce(cs, 0) AS r
                    FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.h = c1.h),
             c2 AS (SELECT dst AS h, sum(r1.r / deg.dg) AS cs FROM edges
                    JOIN r1 ON edges.src = r1.h JOIN deg ON edges.src = deg.src GROUP BY dst),
             r2 AS (SELECT nodes.h, 0.15 / n + 0.85 * coalesce(cs, 0) AS r
                    FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.h = c2.h),
             c3 AS (SELECT dst AS h, sum(r2.r / deg.dg) AS cs FROM edges
                    JOIN r2 ON edges.src = r2.h JOIN deg ON edges.src = deg.src GROUP BY dst),
             r3 AS (SELECT nodes.h, 0.15 / n + 0.85 * coalesce(cs, 0) AS r
                    FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.h = c3.h),
             c4 AS (SELECT dst AS h, sum(r3.r / deg.dg) AS cs FROM edges
                    JOIN r3 ON edges.src = r3.h JOIN deg ON edges.src = deg.src GROUP BY dst),
             r4 AS (SELECT nodes.h, 0.15 / n + 0.85 * coalesce(cs, 0) AS r
                    FROM nodes CROSS JOIN nn LEFT JOIN c4 ON nodes.h = c4.h),
             c5 AS (SELECT dst AS h, sum(r4.r / deg.dg) AS cs FROM edges
                    JOIN r4 ON edges.src = r4.h JOIN deg ON edges.src = deg.src GROUP BY dst),
             r5 AS (SELECT nodes.h, 0.15 / n + 0.85 * coalesce(cs, 0) AS r
                    FROM nodes CROSS JOIN nn LEFT JOIN c5 ON nodes.h = c5.h)
             SELECT h AS host, round(r, 6) AS rank FROM r5 ORDER BY host""")),

    // ---- robots.txt crawl-permission filter (REP, RFC 9309): the
    // compliance gate every crawl pipeline applies before a byte is
    // fetched. Longest-matching rule wins; Allow beats Disallow on
    // equal length; no matching rule ⇒ allowed — the Google/RFC
    // precedence, encoded as one deterministic argmax per url. Rules
    // and paths are planted from doc_id (q44/q87 convention): five
    // hosts share a base rule set, even hosts add a /tmp disallow,
    // every third host adds the CLASSIC override case — '/private/'
    // Allow shadowing the shorter '/private' Disallow. Scale shape:
    // robots rule sets are KB per host, so a small rules table falls
    // under the broadcast threshold and the filter is a map-only
    // prefix-match + per-url local argmax — no shuffle touches the url
    // table; no hint forces that, so a crawl-scale rules table shuffles.
    ("q90_robots_filter",
      (s, d) => {
        val hosts = s.range(5)
          .select(col("id"), concat(lit("https://site"), col("id"), lit(".com")).as("host"))
        val base = hosts.select(col("id"), col("host"), explode(array(
            struct(lit("/private").as("rule_path"), lit("disallow").as("action")),
            struct(lit("/public").as("rule_path"), lit("allow").as("action")))).as("r"))
          .select(col("id"), col("host"), col("r.rule_path"), col("r.action"))
        val rules = base
          .unionByName(hosts.where(col("id") % 2 === 0)
            .select(col("id"), col("host"), lit("/tmp").as("rule_path"), lit("disallow").as("action")))
          .unionByName(hosts.where(col("id") % 3 === 0)
            .select(col("id"), col("host"), lit("/private/").as("rule_path"), lit("allow").as("action")))
          .drop("id")
        val urls = tbl(s, d, "documents").select(col("doc_id"),
          concat(lit("https://site"), col("doc_id") % 5, lit(".com")).as("host"),
          when(col("doc_id") % 4 === 0, concat(lit("/p/"), col("doc_id")))
            .when(col("doc_id") % 4 === 1, concat(lit("/private/"), col("doc_id")))
            .when(col("doc_id") % 4 === 2, concat(lit("/public/docs/"), col("doc_id")))
            .otherwise(concat(lit("/tmp/"), col("doc_id"))).as("path"))
        // Map-only when the rule SETS broadcast (one array per
        // host): each url filters its host's rules by prefix and takes
        // the argmax per row via array_max over (len, is_allow, path)
        // structs — lexicographic struct order IS the REP precedence
        // (longest first, Allow beats Disallow on equal length; a full
        // (len, action) tie forces identical rule strings, since a
        // prefix of a given length is unique). No window, no second
        // join: with the rules broadcast, the url table is never shuffled
        // (the orderBy is presentation, dropped at production scale).
        val rulesByHost = rules.groupBy("host")
          .agg(collect_list(struct(col("rule_path"), col("action"))).as("rs"))
        urls.join(rulesByHost, Seq("host"), "left")
          .withColumn("w", array_max(transform(
            filter(col("rs"), r => startswith(col("path"), r.getField("rule_path"))),
            r => struct(length(r.getField("rule_path")).as("l"),
              (r.getField("action") === "allow").as("al"),
              r.getField("rule_path").as("rp")))))
          .select(col("doc_id"), col("path"),
            coalesce(col("w.rp"), lit("")).as("matched_rule"),
            coalesce(col("w.al"), lit(true)).as("allowed"))
          .orderBy("doc_id")
      },
      Some("""WITH hosts AS (SELECT i AS id, 'https://site' || i || '.com' AS host
                FROM range(5) t(i)),
             base AS (SELECT id, host, rp AS rule_path, act AS action FROM hosts,
                (VALUES ('/private', 'disallow'), ('/public', 'allow')) v(rp, act)),
             rules AS (SELECT host, rule_path, action FROM base
               UNION ALL SELECT host, '/tmp', 'disallow' FROM hosts WHERE id % 2 = 0
               UNION ALL SELECT host, '/private/', 'allow' FROM hosts WHERE id % 3 = 0),
             urls AS (SELECT doc_id, 'https://site' || (doc_id % 5) || '.com' AS host,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN '/p/' || doc_id
                   WHEN 1 THEN '/private/' || doc_id
                   WHEN 2 THEN '/public/docs/' || doc_id
                   ELSE '/tmp/' || doc_id END AS path
               FROM documents),
             m AS (SELECT u.doc_id, r.rule_path, r.action,
                 row_number() OVER (PARTITION BY u.doc_id
                   ORDER BY length(r.rule_path) DESC, r.action, r.rule_path) AS rk
               FROM urls u JOIN rules r ON u.host = r.host
                 AND starts_with(u.path, r.rule_path)),
             w AS (SELECT doc_id, rule_path, action FROM m WHERE rk = 1)
             SELECT u.doc_id, u.path,
               coalesce(w.rule_path, '') AS matched_rule,
               coalesce(w.action = 'allow', TRUE) AS allowed
             FROM urls u LEFT JOIN w USING (doc_id) ORDER BY u.doc_id"""))
  )
}
