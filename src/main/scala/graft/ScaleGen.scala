package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress data generator: multiplies the testdata star schema by an
  * integer factor with consistent key remapping, producing (from sf0.1)
  * an sf1-equivalent dataset so the catalog's 100-TB design claims can be
  * MEASURED as scaling curves instead of argued in scaladoc.
  *
  * Per copy i (copy 0 = identity):
  *  - every key domain (orderkey, custkey, partkey, suppkey, event_id,
  *    user_id, doc_id, vec_id) shifts by i × a power-of-10 offset above
  *    the domain's observed max — referential integrity holds within a
  *    copy and copies never collide;
  *  - region/nation (fixed real-world cardinality) copy through
  *    unchanged: 10× fact data joins the same dims, like real growth;
  *  - documents prefix every non-initial word with the copy index, so
  *    copies are NOT near-duplicates of each other (cross-copy shingle
  *    overlap ≈ 0): the duplicate RATE stays constant as the corpus
  *    grows. The alternative (verbatim copies) gives every doc 9 twins
  *    and quadratically inflates LSH candidate pairs — that measures the
  *    data, not the plan. n_chars is recomputed to stay consistent;
  *  - embeddings get a tiny per-copy additive perturbation (no 10-way
  *    exact ties); query-side filters like `vec_id < 500` keep matching
  *    only copy 0, so ANN work scales with corpus size alone;
  *  - events keep their time span (10× density = same period, more
  *    traffic); ids shift.
  *
  * SKEW MODE (round 8): real 100 TB corpora have Zipf keys, not the
  * uniform growth above. `skewPct > 0` redirects that percentage of
  * rows — deterministically, by key modulo, so runs are reproducible —
  * onto a single hot entity per domain:
  *  - orders: hot o_custkey (one customer holds skewPct% of all orders);
  *  - lineitem: hot l_partkey + l_suppkey on the SAME orderkey parity,
  *    so the orders⋈lineitem⋈part/supplier chains hit aligned hot keys;
  *  - events: hot user_id (stresses sessionize / per-user windows);
  *  - documents: a fixed hot sentence appended (hot shingles → hot
  *    MinHash bands; the dedup DF caps must absorb it);
  *  - embeddings: first 16 dims flipped positive (one hot sign-LSH
  *    bucket holds skewPct% of vectors).
  * Row counts and referential integrity are unchanged — only the key
  * DISTRIBUTION moves, so skewed-vs-uniform wall time isolates the
  * plan's skew sensitivity.
  *
  * Usage: `runMain graft.ScaleGen <srcDir> <outDir> [factor=10] [skewPct=0]`.
  * Output goes under target/ by convention — generated, never committed.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val skewPct = args.lift(3).map(_.toInt).getOrElse(0)
    val spark = SparkEngine.session()
    try run(spark, src, out, factor, skewPct)
    finally spark.stop()
  }

  /** The generator body, session-injected so ScaleGenSpec can drive it
    * on the shared test session (main owns session lifecycle).
    */
  def run(spark: SparkSession, src: String, out: String,
      factor: Int, skewPct: Int): Unit = {
    require(factor >= 1 && skewPct >= 0 && skewPct < 100)

    def t(name: String) = Tables(spark, src, name)

    def pow10Above(v: Long): Long = {
      var p = 1L
      while (p <= v) p *= 10
      p
    }
    def maxKey(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head().getLong(0)

    val customer = t("customer"); val supplier = t("supplier")
    val part = t("part"); val orders = t("orders")
    val lineitem = t("lineitem"); val events = t("events")
    val documents = t("documents"); val embeddings = t("embeddings")

    val custOff = pow10Above(maxKey(customer, "c_custkey"))
    val suppOff = pow10Above(maxKey(supplier, "s_suppkey"))
    val partOff = pow10Above(maxKey(part, "p_partkey"))
    val ordOff = pow10Above(
      math.max(maxKey(orders, "o_orderkey"), maxKey(lineitem, "l_orderkey")))
    val eventOff = pow10Above(maxKey(events, "event_id"))
    val userOff = pow10Above(maxKey(events, "user_id"))
    val docOff = pow10Above(maxKey(documents, "doc_id"))
    val vecOff = pow10Above(maxKey(embeddings, "vec_id"))

    def shifted(c: String, off: Long, i: Int): Column =
      (col(c) + lit(off * i)).as(c)

    // Deterministic skew selector: a row is "hot" when its driving key
    // falls in the first skewPct residues of 100.
    def hot(key: String): Column = pct_hot(col(key))
    def pct_hot(key: Column): Column = (key % 100) < skewPct
    // Hot targets: copy-0's minimum key per domain (guaranteed to exist).
    lazy val hotCust = maxKey(customer.agg(min(col("c_custkey")).as("k")), "k")
    lazy val hotPart = maxKey(part.agg(min(col("p_partkey")).as("k")), "k")
    lazy val hotSupp = maxKey(supplier.agg(min(col("s_suppkey")).as("k")), "k")
    lazy val hotUser = maxKey(events.agg(min(col("user_id")).as("k")), "k")
    // `target` is by-name: the hot-key lazy vals each cost a full-scan
    // min() job, which the uniform (skewPct == 0) path must never force.
    def skewKey(sel: Column, c: String, off: Long, i: Int, target: => Long): Column =
      (if (skewPct == 0) col(c) + lit(off * i)
       else when(sel, lit(target)).otherwise(col(c) + lit(off * i))).as(c)

    def scaled(df: DataFrame)(tx: Int => Seq[Column]): DataFrame =
      (0 until factor).map(i => df.select(tx(i): _*)).reduce(_.union(_))

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scalegen] $name written")
    }

    // Fixed dims: straight copies.
    write(t("region"), "region")
    write(t("nation"), "nation")

    write(scaled(customer)(i => Seq(shifted("c_custkey", custOff, i),
      col("c_name"), col("c_nationkey"), col("c_acctbal"),
      col("c_mktsegment"))), "customer")

    write(scaled(supplier)(i => Seq(shifted("s_suppkey", suppOff, i),
      col("s_name"), col("s_nationkey"), col("s_acctbal"))), "supplier")

    write(scaled(part)(i => Seq(shifted("p_partkey", partOff, i),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice"))), "part")

    // Skew is driven by the fact row's OWN key parity (orderkey /
    // event_id / doc_id / vec_id), so the orders and lineitem hot rows
    // align on the same order keys and the join chains compound.
    write(scaled(orders)(i => Seq(shifted("o_orderkey", ordOff, i),
      skewKey(hot("o_orderkey"), "o_custkey", custOff, i, hotCust),
      col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))),
      "orders")

    write(scaled(lineitem)(i => Seq(shifted("l_orderkey", ordOff, i),
      skewKey(hot("l_orderkey"), "l_partkey", partOff, i, hotPart),
      skewKey(hot("l_orderkey"), "l_suppkey", suppOff, i, hotSupp),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate"))), "lineitem")

    write(scaled(events)(i => Seq(shifted("event_id", eventOff, i),
      col("ts"),
      skewKey(hot("event_id"), "user_id", userOff, i, hotUser),
      col("event_type"),
      col("value"), col("props"))), "events")

    write(scaled(documents) { i =>
      val base = if (i == 0) col("text")
        else regexp_replace(col("text"), lit(" "), lit(" " + i))
      // Hot shingles: skewPct% of docs share one fixed sentence — every
      // one of its shingles lands in the same MinHash bands, the
      // worst case the dedup DF caps exist for.
      val txt = if (skewPct == 0) base
        else when(hot("doc_id"),
          concat(base, lit(" the quick brown fox jumps over the lazy dog")))
          .otherwise(base)
      Seq(shifted("doc_id", docOff, i), txt.as("text"), col("lang"),
        col("source"), length(txt).cast("long").as("n_chars"))
    }, "documents")

    write(scaled(embeddings) { i =>
      val base = if (i == 0) col("embedding")
        else expr(s"transform(embedding, x -> CAST(x + ${i}e-4 AS FLOAT))")
      // Hot sign-LSH bucket: first 16 dims forced positive on skewPct%
      // of vectors — they all share one bucket at any bits <= 16.
      // Composes over `base` (the indexed transform lambda takes a
      // Column) so the per-copy perturbation has ONE definition above —
      // hot and cold vectors can't silently diverge if it changes.
      val emb = if (skewPct == 0) base
        else when(hot("vec_id"),
          transform(base, (x, idx) =>
            when(idx < 16, abs(x)).otherwise(x).cast("float")))
          .otherwise(base)
      Seq(shifted("vec_id", vecOff, i), emb.as("embedding"), col("label"))
    }, "embeddings")

    Tables.names.foreach { n =>
      val c = Tables(spark, out, n).count()
      System.err.println(s"[scalegen] $n rows=$c")
    }
  }
}
