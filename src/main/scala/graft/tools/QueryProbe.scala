package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev-only optimization probe (guide §1: measure first): run selected
  * SparkEntry queries and report, per query, where the wall goes —
  * job/stage/task counts, summed executor task time, shuffle bytes moved —
  * from a SparkListener. A query whose wall ≫ task time is scheduler- or
  * driver-bound (stage count is the lever); one whose shuffle bytes rival
  * its input is exchange-bound (guide §2); one whose task time ≈ wall ×
  * cores is compute-bound (expression work, guide §4).
  *
  * Usage: QueryProbe [sfDir] [passes] [nameSubstring...]
  * Prints one JSON line per query (the fastest pass's metrics) and a
  * closing summary line. Memos are released after every pass, so each
  * pass measures the query's own training. Each measured pass runs in job
  * group `<query>#<pass>` (the warm-up in none), so with Spark's event log
  * on, `scripts/stage_breakdown.py <log> --group '^q277_'` keeps one
  * query's jobs.
  */
object QueryProbe {
  private class Acc extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var shufReadB = 0L
    @volatile var shufWriteB = 0L
    @volatile var inputB = 0L
    @volatile var spillB = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      val i = sc.stageInfo
      tasks += i.numTasks
      taskTimeMs += i.taskMetrics.executorRunTime
      shufReadB += i.taskMetrics.shuffleReadMetrics.totalBytesRead
      shufWriteB += i.taskMetrics.shuffleWriteMetrics.bytesWritten
      inputB += i.taskMetrics.inputMetrics.bytesRead
      spillB += i.taskMetrics.diskBytesSpilled
    }
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0; shufReadB = 0
      shufWriteB = 0; inputB = 0; spillB = 0
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val only = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
    val results = selected.map { case (name, fn) =>
      // warmup pass at the smallest sf (JIT/codegen), as Bench does
      try fn(spark, "/root/testdata/sf0.001").count()
      catch { case scala.util.control.NonFatal(_) => () }
      finally { graft.Caches.releaseAll(); graft.Caches.releaseMemos() }
      var best = Double.MaxValue
      var line = ""
      (1 to passes).foreach { pass =>
        acc.reset()
        // jobs named `<query>#<pass>`, as perfbench names its own, so an
        // event log splits per query (scripts/stage_breakdown.py --group)
        spark.sparkContext.setJobGroup(s"$name#$pass", name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        try fn(spark, dir).count()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"PROBE FAIL $name: ${e.getMessage}") }
        finally {
          spark.sparkContext.clearJobGroup()
          graft.Caches.releaseAll(); graft.Caches.releaseMemos()
        }
        val w = (System.nanoTime() - t0) / 1e9
        Thread.sleep(150) // let the listener bus drain before reading counters
        if (w < best) {
          best = w
          line = f"""{"q":"$name","wall_s":$w%.3f,"jobs":${acc.jobs},"stages":${acc.stages},"tasks":${acc.tasks},"task_time_s":${acc.taskTimeMs / 1e3}%.2f,"input_mb":${acc.inputB / 1e6}%.1f,"shuf_read_mb":${acc.shufReadB / 1e6}%.1f,"shuf_write_mb":${acc.shufWriteB / 1e6}%.1f,"spill_mb":${acc.spillB / 1e6}%.1f}"""
        }
      }
      println(line)
      (name, best)
    }
    println(f"""{"total_wall_s":${results.map(_._2).sum}%.2f,"n":${results.size}}""")
    spark.stop()
  }
}
