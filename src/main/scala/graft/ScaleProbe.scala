package graft

import graft.operators.Similarity

/** Scale-knob probe (round 7; settled round 8): times the ANN operators
  * at two knob settings side by side on the same data, so sizing rules
  * are measured instead of argued.
  *
  * Round 7 used it to show FIXED knobs (nCells=16, bits=8) go quadratic
  * at 30× corpus; round 8 used it to pick between nCells ∝ N (29.4s at
  * 30×, assignment-pass quadratic) and nCells = √N (6.7s, the classic
  * balance) — and then moved the winning rules INTO the gated catalog
  * queries (`Similarity.scaledCells` / `scaledBits`, oracle-mirrored),
  * so the probe is now regression tooling rather than the only evidence.
  *
  * Usage: `runMain graft.ScaleProbe <sfDir> <fixedCells> <scaledCells>
  *   <fixedBits> <scaledBits>`
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val fixedCells = args(1).toInt
    val scaledCells = args(2).toInt
    val fixedBits = args(3).toInt
    val scaledBits = args(4).toInt
    val spark = SparkEngine.session()
    val e = Similarity.withNorm(Tables(spark, dir, "embeddings"))

    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // Warm the JVM/codegen once so the comparisons are warm-vs-warm.
    Similarity.ivfKnn(e, nCells = fixedCells, k = 3, iters = 0, nprobe = 1)
      .write.format("noop").mode("overwrite").save()
    Ckpt.releaseAll(spark)

    for ((label, cells) <- Seq("ivf_fixed" -> fixedCells, "ivf_scaled" -> scaledCells)) {
      time(s"$label cells=$cells") {
        Similarity.ivfKnn(e, nCells = cells, k = 3, iters = 2, nprobe = 2)
          .write.format("noop").mode("overwrite").save()
      }
      Ckpt.releaseAll(spark)
    }
    for ((label, bits) <- Seq("lsh_fixed" -> fixedBits, "lsh_scaled" -> scaledBits)) {
      time(s"$label bits=$bits") {
        Similarity.annLshKnn(e, k = 3, bits = bits)
          .write.format("noop").mode("overwrite").save()
      }
      Ckpt.releaseAll(spark)
    }
    spark.stop()
  }
}
