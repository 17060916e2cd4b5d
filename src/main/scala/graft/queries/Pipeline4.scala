package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Qs._

/** Fourth batch of training-data pipeline operators: assembling the
  * final training mixture once the corpus is clean. Sequence packing
  * (GPT-style concat-and-chunk), sliding-window passage chunking,
  * deterministic train/val/test splitting, PII redaction, Gopher-style
  * quality filtering, statistical outlier screens, and curriculum
  * difficulty bucketing.
  *
  * Scale notes (100 TB):
  *  - packing/splitting/bucketing are window or two-phase-agg shapes
  *    keyed on `source` (or the group column), so each shuffles the
  *    corpus exactly once on a low-cardinality key and never moves
  *    anything wider than (key, counters);
  *  - chunking is embarrassingly parallel (per-row explode, no
  *    shuffle until the caller aggregates);
  *  - redaction is a pure per-row projection — zero shuffles, fully
  *    codegen'd `regexp_replace`/`regexp_extract_all`;
  *  - the outlier screen reduces each group to six exact-decimal sums
  *    (partial+final agg) and broadcasts the tiny per-group stats row
  *    back over the fact side — the same shape as [[graft.operators.Regression]].
  */
object Pipeline4 extends Batch {

  private val PackBudget = 512

  // Deterministic hash split on md5 of the doc id: hex chars are
  // uniform, so first-char ranges give 12/16 train, 2/16 val, 2/16 test.
  private def splitExpr = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    when(h < "c", "train").when(h < "e", "val").otherwise("test")
  }

  val queries: Map[String, Q] = Map(
    // GPT-style sequence packing: concatenate each source's docs in
    // doc_id order and cut the stream into 512-token context windows; a
    // doc belongs to the block its first token lands in (docs straddle
    // block boundaries, exactly like pretraining concat-and-chunk).
    // Emits per-block occupancy — the packing-efficiency view.
    "q_pack_sequences" -> { (s, dir) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("block_id", expr(s"(cum - n_tokens) DIV $PackBudget"))
        .groupBy(col("source"), col("block_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("block_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("block_id"))
    },

    // Sliding-window chunking (width 10 tokens, stride 5): the
    // retrieval-indexing cut with 50% overlap so no passage boundary
    // splits a fact. Chunk count = 1 + ceil((n-10)/5) — every token is
    // covered and no chunk is a pure suffix of its predecessor.
    "q_chunk_overlap" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("nch", expr(
          "GREATEST(1, CAST(CEIL((size(ws) - 10) / 5.0) AS INT) + 1)"))
        .select(
          col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, nch - 1), " +
              "i -> array_join(slice(ws, i * 5 + 1, 10), ' '))"))
            .as(Seq("chunk_idx", "chunk")))
        .select(
          col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"),
          size(split(col("chunk"), " ")).cast("long").as("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Deterministic train/val/test assignment: md5-bucketed 75/12.5/12.5,
    // stable under corpus growth (a doc's split never changes when other
    // docs arrive — the property random sampling loses). Emits the
    // stratification view per (source, split).
    "q_split_assign" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), splitExpr.as("split"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          col("n_chars"))
        .groupBy(col("source"), col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy(col("source"), col("split"))
    },

    // PII redaction: the synthetic corpus carries no PII, so the query
    // plants deterministic PII-shaped strings from customer keys (email,
    // phone, IPv4) and then scrubs them — what's under test is the
    // redaction pass itself: match counts and replacement, identical
    // regex semantics in both engines. Pure projection; no shuffle.
    "q_pii_redact" -> { (s, dir) =>
      val raw = concat(
        lit("contact "), lower(col("c_name")),
        lit(" email user"), col("c_custkey").cast("string"),
        lit("@example.com phone 555-"),
        lpad(((col("c_custkey") * 7) % 10000).cast("string"), 4, "0"),
        lit(" ip 10.0."), col("c_nationkey").cast("string"),
        lit("."), (col("c_custkey") % 256).cast("string"))
      val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val phone = "555-[0-9]{4}"
      val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      t(s, dir, "customer")
        .select(col("c_custkey"), raw.as("raw"))
        .select(
          col("c_custkey"),
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            email, "[EMAIL]"), ip, "[IP]"), phone, "[PHONE]").as("redacted"),
          size(regexp_extract_all(col("raw"), lit(email), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("raw"), lit(phone), lit(0)))
            .cast("long").as("n_phones"),
          size(regexp_extract_all(col("raw"), lit(ip), lit(0)))
            .cast("long").as("n_ips"))
        .orderBy(col("c_custkey"))
    },

    // Gopher-style quality gate: word-count bounds, mean-word-length
    // bounds, stopword presence, and repetition (type/token ratio), each
    // surfaced as its own flag plus the combined keep decision. Pure
    // per-row projection over codegen'd string functions.
    "q_quality_filter" -> { (s, dir) =>
      val nWords = size(split(col("text"), " ")).cast("long")
      val meanWlen = length(regexp_replace(col("text"), " ", "")).cast("double") /
        nWords.cast("double")
      val ttr = size(array_distinct(split(col("text"), " "))).cast("double") /
        nWords.cast("double")
      val nStop = size(regexp_extract_all(col("text"),
        lit("\\b(the|a|of|and|is)\\b"), lit(0))).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"),
          nWords.as("n_words"), meanWlen.as("mean_wlen"), ttr.as("ttr"),
          nStop.as("n_stop"),
          (nWords >= 10 && nWords <= 1000).as("ok_len"),
          (meanWlen >= 2.0 && meanWlen <= 12.0).as("ok_wlen"),
          (nStop >= 1).as("ok_stop"),
          (ttr >= 0.2).as("ok_rep"))
        .withColumn("keep",
          col("ok_len") && col("ok_wlen") && col("ok_stop") && col("ok_rep"))
        .orderBy(col("doc_id"))
    },

    // Statistical outlier screen: per-event-type z-score on `value`,
    // flagging |z| >= 2.5. Mean/stddev derive from exact decimal sums
    // (count, Σv, Σv²) so both engines compute identical doubles — the
    // same order-independence trick as the regression operator; the
    // six-number stats row broadcasts back over the fact side.
    "q_outliers" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val stats = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"), 12, 2)).cast("double").as("sum_v"),
        sum(dec(col("value"), 9, 2) * dec(col("value"), 9, 2))
          .cast("double").as("sumsq_v"))
        .select(col("event_type"), col("n"),
          (col("sum_v") / col("n")).as("mean_v"),
          sqrt((col("sumsq_v") - col("sum_v") * col("sum_v") / col("n")) /
            (col("n") - 1)).as("std_v"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", round((col("value") - col("mean_v")) / col("std_v"), 6))
        .filter(abs(col("z")) >= lit(2.5))
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy(col("event_id"))
    },

    // Curriculum bucketing: quartiles of document length within each
    // source (NTILE over a fully deterministic order), with per-bucket
    // boundaries and occupancy — the "sort by difficulty, schedule in
    // stages" step of curriculum training.
    "q_curriculum" -> { (s, dir) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .groupBy(col("source"), col("tile"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy(col("source"), col("tile"))
    })

  val oracle: Map[String, String] = Map(
    "q_pack_sequences" ->
      s"""WITH d AS (SELECT source, doc_id,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM d)
        |SELECT source, CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS block_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS block_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY source, block_id ORDER BY source, block_id""".stripMargin,
    "q_chunk_overlap" ->
      """WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws,
        |    GREATEST(1, CAST(CEIL((LEN(ws) - 10) / 5.0) AS INT) + 1) AS nch
        |  FROM w),
        |x AS (SELECT doc_id,
        |    UNNEST(GENERATE_SERIES(0, nch - 1)) AS chunk_idx,
        |    UNNEST(LIST_TRANSFORM(GENERATE_SERIES(0, nch - 1),
        |      i -> ARRAY_TO_STRING(ws[i * 5 + 1 : i * 5 + 10], ' '))) AS chunk
        |  FROM n)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk,
        |  CAST(LEN(STRING_SPLIT(chunk, ' ')) AS BIGINT) AS n_chunk_tokens
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_split_assign" ->
      """WITH d AS (SELECT source,
        |  CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
        |       WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens, n_chars
        |  FROM documents)
        |SELECT source, split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM d GROUP BY source, split ORDER BY source, split""".stripMargin,
    "q_pii_redact" ->
      """WITH r AS (SELECT c_custkey,
        |  'contact ' || LOWER(c_name) || ' email user' ||
        |  CAST(c_custkey AS VARCHAR) || '@example.com phone 555-' ||
        |  LPAD(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0') ||
        |  ' ip 10.0.' || CAST(c_nationkey AS VARCHAR) || '.' ||
        |  CAST(c_custkey % 256 AS VARCHAR) AS raw
        |  FROM customer)
        |SELECT c_custkey,
        |  REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(raw,
        |    '[a-z0-9]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
        |    '555-[0-9]{4}', '[PHONE]', 'g') AS redacted,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT)
        |    AS n_emails,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(raw, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(raw,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips
        |FROM r ORDER BY c_custkey""".stripMargin,
    "q_quality_filter" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(LENGTH(REGEXP_REPLACE(text, ' ', '', 'g')) AS DOUBLE)
        |    / LEN(STRING_SPLIT(text, ' ')) AS mean_wlen,
        |  CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
        |    / LEN(STRING_SPLIT(text, ' ')) AS ttr,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(the|a|of|and|is)\b')) AS BIGINT)
        |    AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_words, mean_wlen, ttr, n_stop,
        |  n_words >= 10 AND n_words <= 1000 AS ok_len,
        |  mean_wlen >= 2.0 AND mean_wlen <= 12.0 AS ok_wlen,
        |  n_stop >= 1 AS ok_stop,
        |  ttr >= 0.2 AS ok_rep,
        |  (n_words >= 10 AND n_words <= 1000) AND
        |  (mean_wlen >= 2.0 AND mean_wlen <= 12.0) AND
        |  n_stop >= 1 AND ttr >= 0.2 AS keep
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_outliers" ->
      """WITH g AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v,
        |    CAST(SUM(CAST(value AS DECIMAL(9,2)) * CAST(value AS DECIMAL(9,2)))
        |      AS DOUBLE) AS sumsq_v
        |  FROM events GROUP BY event_type),
        |st AS (SELECT event_type, n, sum_v / n AS mean_v,
        |    SQRT((sumsq_v - sum_v * sum_v / n) / (n - 1)) AS std_v
        |  FROM g)
        |SELECT event_id, e.event_type, value,
        |  ROUND((value - mean_v) / std_v, 6) AS z
        |FROM events e JOIN st ON e.event_type = st.event_type
        |WHERE ABS(ROUND((value - mean_v) / std_v, 6)) >= 2.5
        |ORDER BY event_id""".stripMargin,
    "q_curriculum" ->
      """WITH d AS (SELECT source, doc_id, n_chars,
        |    CAST(NTILE(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id)
        |      AS BIGINT) AS tile
        |  FROM documents)
        |SELECT source, tile, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM d GROUP BY source, tile ORDER BY source, tile""".stripMargin)
}
