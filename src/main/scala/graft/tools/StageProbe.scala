package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerDrain
import scala.collection.mutable

/** Gate-level A/B lens: runs one or more registered gates interleaved
  * (A-B-A-B) in one session against SPARK_GRAFT_SF_DIR and prints, per
  * run, every completed stage's task count, wall ms and min/median/max
  * task ms, then the run's rows, wall time and Σ executorCpuTime. Read
  * runs 2+ for a JIT-warm profile; persisted state is scrubbed between
  * runs exactly like Bench.once. Code variants are compared as registered
  * gates (each carries its own oracle); conf variants by running it once
  * with and once without SPARK_GRAFT_CONF.
  *
  * Usage: runMain graft.tools.StageProbe <gate>[,<gate>...] [runs]
  */
object StageProbe {

  /** One completed stage, task times in ms. */
  final case class Stage(id: Int, tasks: Int, wallMs: Long,
      minMs: Long, medMs: Long, maxMs: Long, name: String)

  /** One run of one gate: rows, wall and Σ executorCpuTime seconds, and
    * its stages in completion order.
    */
  final case class Run(gate: String, run: Int, rows: Long, wallS: Double,
      cpuS: Double, stages: Seq[Stage])

  /** Collects stages and task times until [[take]] hands them over. */
  private final class Recorder extends SparkListener {
    private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private var cpuNs = 0L

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
        t.taskInfo.duration
      cpuNs += Option(t.taskMetrics).map(_.executorCpuTime).getOrElse(0L)
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = s.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        val ts = taskMs.remove(i.stageId).map(_.sorted.toSeq).getOrElse(Nil)
        val (mn, md, mx) =
          if (ts.isEmpty) (-1L, -1L, -1L)
          else (ts.head, ts(ts.size / 2), ts.last)
        stages += Stage(i.stageId, i.numTasks, wall, mn, md, mx,
          i.name.takeWhile(_ != '\n').take(60))
      }

    def take(): (Seq[Stage], Long) = synchronized {
      val r = (stages.toList, cpuNs)
      stages.clear(); taskMs.clear(); cpuNs = 0L
      r
    }
  }

  /** Run `gates` interleaved, `perGate` runs each (A1 B1 A2 B2 …). */
  def runs(spark: SparkSession, dir: String, gates: Seq[String],
      perGate: Int): Seq[Run] = {
    val missing = gates.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown gate(s): ${missing.mkString(",")}")
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    try for (r <- 1 to perGate; g <- gates) yield {
      ListenerDrain(sc)
      rec.take()
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(g)(spark, dir).count()
      val wallS = (System.nanoTime() - t0) / 1e9
      ListenerDrain(sc)
      val (stages, cpuNs) = rec.take()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      Run(g, r, n, wallS, cpuNs / 1e9, stages)
    } finally sc.removeSparkListener(rec)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProbe <gate>[,<gate>...] [runs]")
    val gates = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val n = if (args.length >= 2) args(1).toInt else 1
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(app = "graft-stage-probe")
    try {
      val all = runs(spark, dir, gates, n)
      all.foreach { r =>
        System.err.println(s"[probe] --- ${r.gate} run ${r.run} ---")
        r.stages.foreach { s =>
          System.err.println(f"[stage] id=${s.id}%-4d tasks=${s.tasks}%-3d " +
            f"wall=${s.wallMs}%-6d taskMs min=${s.minMs}%-5d " +
            f"med=${s.medMs}%-5d max=${s.maxMs}%-6d ${s.name}")
        }
        System.err.println(f"[probe] ${r.gate} run=${r.run} rows=${r.rows} " +
          f"wall=${r.wallS}%.2f s cpu=${r.cpuS}%.2f s")
      }
      val med = gates.map { g =>
        val rs = all.filter(_.gate == g)
        g -> (graft.Bench.median(rs.map(_.wallS)),
          graft.Bench.median(rs.map(_.cpuS)))
      }
      val (w0, c0) = med.head._2
      med.foreach { case (g, (w, c)) =>
        System.err.println(f"[probe] median $g wall=$w%.2f s cpu=$c%.2f s " +
          f"(x${w / w0}%.2f wall, x${c / c0}%.2f cpu vs ${gates.head})")
      }
    } finally spark.stop()
  }
}
