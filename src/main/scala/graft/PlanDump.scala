package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.core.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round measurement harness (guide §1): for each named
  * query, write its `explain("formatted")` to a file AND run it against
  * the noop sink with a listener counting jobs / stages / tasks /
  * shuffle bytes — the per-query evidence OPTIMIZATION_rN.md cites.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  *        [confK=v;confK2=v2]  (runtime conf overrides)
  * Writes <outDir>/<query>_<suffix>.txt (the formatted plan) and prints
  * one metrics line per query:
  *   [plandump] name=<q> sec=<warm> jobs=<n> stages=<n> tasks=<n>
  *     shuffleWriteMB=<x> peakMemMB=<x>
  */
object PlanDump {

  private final class Counter extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shuffleWrite = new AtomicLong(0L)
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      ()
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); shuffleWrite.set(0L) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r19")
    val suffix = args.lift(2).getOrElse("before")
    val picks: Seq[String] = args.lift(3) match {
      case Some(csv) => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val spark = GraftSession.getOrCreate("graft-plandump")
    args.lift(4).foreach(_.split(";").map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    Files.createDirectories(Paths.get(outDir))
    // warm up session + footers so the first query is not billed startup
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.core.Tables.all.foreach { t =>
      try graft.core.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    picks.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        val df = fn(spark, sfDir)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        spark.sparkContext.setJobDescription(s"plandump: $name")
        // cold run (not counted), then the counted warm run; listener
        // delivery is async — a short quiesce keeps counts per-query
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        Thread.sleep(300)
        counter.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"[plandump] name=$name sec=$sec%.3f jobs=${counter.jobs.get}" +
          f" stages=${counter.stages.get} tasks=${counter.tasks.get}" +
          f" shuffleWriteMB=${counter.shuffleWrite.get / 1e6}%.2f")
        spark.sparkContext.setJobDescription(null)
      } catch {
        case e: Throwable => println(s"[plandump] name=$name FAILED: $e")
      }
    }
    spark.stop()
  }
}
