package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Helpers shared by the lake's cache specs. */
object LakeTestKit {
  /** (result, the stage names of each Spark job started while `body` ran).
    * Jobs are matched by a fresh job group, which threads created inside
    * `body` inherit; a stage is named after its call site.
    */
  def jobs[T](sc: SparkContext)(body: => T): (T, Seq[Seq[String]]) = {
    val group = s"lake-spec-${System.nanoTime()}"
    val started = new ConcurrentLinkedQueue[Seq[String]]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.add(e.stageInfos.map(_.name))
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "lake spec")
    try {
      val r = body
      CoreBridge.flushListenerBus(sc)
      (r, started.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** A single regular parquet file (Spark writes directories). */
  def writeParquetFile(df: DataFrame, target: Path): Unit = {
    val out = Files.createTempDirectory("lake-parquet").resolve("d")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }
}
