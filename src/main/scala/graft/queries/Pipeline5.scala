package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.{md5fast => md5f}
import Qs._

/** Fifth batch: sequence statistics over event streams and corpus-wide
  * boilerplate removal.
  *
  * Scale notes (100 TB):
  *  - the transition matrix shuffles events once on user_id (the window
  *    partition key), then reduces to a |event_type|² matrix — the second
  *    shuffle moves a handful of counter rows;
  *  - boilerplate removal keys every shuffle on the 32-byte passage md5
  *    (never text), and the document-frequency side reduces to
  *    (hash, df) pairs before joining back — the same
  *    shape as the decontamination join.
  */
object Pipeline5 extends Batch {

  val queries: Map[String, Q] = Map(
    // Event-type transition matrix (the Markov view of user streams):
    // per-user event bigrams in time order, aggregated into
    // (from, to, n, distinct users, row-conditional probability).
    // Ordering ties break on event_id, mirrored exactly in the oracle
    // by ordering on the same micro-truncated timestamp Spark sees.
    "q_transitions" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wTot = Window.partitionBy(col("event_type"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .withColumn("prob",
          col("n").cast("double") / sum(col("n")).over(wTot).cast("double"))
        .orderBy(col("event_type"), col("next_type"))
    },

    // Boilerplate passage removal (the RefinedWeb/CCNet step): a 10-token
    // passage appearing in >= 3 DISTINCT documents is boilerplate
    // (headers, licenses, navigation chrome) and is stripped from every
    // document; intra-doc repeats of non-boilerplate passages survive.
    "q_boilerplate" -> { (s, dir) =>
      val p = Pipeline3.passages(s, dir).withColumn("h", md5f(col("passage")))
      val df = p.select(col("h"), col("doc_id")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3)
      p.join(df.select(col("h"), lit(true).as("boiler")), Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_passages"),
          sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
          array_join(expr("transform(array_sort(collect_list(" +
            "CASE WHEN boiler IS NULL THEN struct(pos, passage) END)), x -> x.passage)"),
            " ").as("text_clean"))
        .orderBy(col("doc_id"))
    })

  val oracle: Map[String, String] = Map(
    "q_transitions" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id) AS next_type
        |  FROM events),
        |m AS (SELECT event_type, next_type, COUNT(*) AS n,
        |    COUNT(DISTINCT user_id) AS n_users
        |  FROM o WHERE next_type IS NOT NULL GROUP BY event_type, next_type)
        |SELECT event_type, next_type, n, n_users,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY event_type)
        |    AS BIGINT) AS prob
        |FROM m ORDER BY event_type, next_type""".stripMargin,
    "q_boilerplate" ->
      s"""WITH ${Pipeline3.passagesSql},
        |df AS (SELECT passage FROM (
        |    SELECT passage, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY passage)
        |  WHERE df >= 3)
        |SELECT doc_id, COUNT(*) AS n_passages,
        |  CAST(SUM(CASE WHEN df.passage IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_boiler,
        |  COALESCE(STRING_AGG(CASE WHEN df.passage IS NULL THEN p.passage END,
        |    ' ' ORDER BY pos), '') AS text_clean
        |FROM p LEFT JOIN df ON p.passage = df.passage
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
