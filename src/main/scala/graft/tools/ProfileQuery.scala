package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{SparkEntry, Tuning}
import graft.plans.CheckpointBlocks

/** Per-query profiler: runs named graded queries on Bench's session
  * (`SPARK_GRAFT_CPUS`, default 32; tables from `SPARK_GRAFT_SF_DIR`)
  * and attributes each run's cost. Not part of the graded surface.
  *
  * Usage: runMain graft.tools.ProfileQuery [key=value ...] [explain]
  *          (name | GC | SET:key=value) ...
  *  - `key=value` sets a session conf before the first query;
  *    `SET:key=value` sets one mid-sequence, so an A/B runs inside one
  *    warmed JVM (`spark.sql.codegen.wholeStage=false x_foo` is the
  *    whole-stage-codegen blow-up diagnostic: a fixed cost that
  *    survives warm-up but vanishes there is compile, not data, cost);
  *  - `GC` forces a full collection between queries;
  *  - `explain` prints each query's formatted physical plan instead of
  *    timing it.
  *
  * Each query runs 3×, storage reset between runs exactly like Bench.
  * Output per query:
  *  - `[profile] <name> jobs_ms <ms>`: median wall of a trivial
  *    one-task job just before the runs — the scheduler-latency epoch
  *    they were measured in;
  *  - `[job] <id> <ms> ms tasks=<a+b+…> <description>`: one line per
  *    Spark job as it ends, with its wall time and the task count of
  *    each of its stages;
  *  - `[batch] <query> batch=<id> rows=<n> trig= plan= get= add= wal=
  *    off= <state operators>`: one line per streaming micro-batch with
  *    its `durationMs` phases (-1 where a phase did not run) and each
  *    state operator's row total and update/commit ms;
  *  - `[profile] <name> run<i> <s> s jobs= stages= tasks=`: the run's
  *    wall time and job/stage/task census.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tuning.session(Tuning.cpus(32), "graft-profile")
    val (confs, names) =
      args.partition(a => a.contains("=") && !a.startsWith("SET:"))
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"[profile] conf $k = $v")
    }
    val (flags, qNames) = names.partition(_ == "explain")
    def jobMs(): Double = {
      val k = 9
      val ts = Array.tabulate(k) { _ =>
        val t0 = System.nanoTime()
        spark.range(0L, 1L, 1L, 1)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      java.util.Arrays.sort(ts); ts(k / 2)
    }
    jobMs() // codegen warm-up
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def d(phase: String) = p.durationMs.getOrDefault(phase, -1L)
        val st = p.stateOperators.map(s =>
          s"state rows=${s.numRowsTotal} ms=${s.allUpdatesTimeMs}/${s.commitTimeMs}")
        println(f"[batch] ${Option(p.name).getOrElse(p.id)} batch=${p.batchId}%-3d rows=${p.numInputRows}%-7d " +
          f"trig=${d("triggerExecution")}%-6d plan=${d("queryPlanning")}%-5d " +
          f"get=${d("getBatch")}%-5d add=${d("addBatch")}%-6d " +
          f"wal=${d("walCommit")}%-5d off=${d("commitOffsets")}%-5d " +
          st.mkString(" | "))
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    /** One timed run of `n` with the per-job lines and the census. */
    def timedRun(n: String, i: Int): Unit = {
      val jobs, stages, tasks = new AtomicInteger
      val starts = new ConcurrentHashMap[Int, (Long, String)]()
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(j.stageInfos.headOption.map(_.name.take(60)))
            .getOrElse("?")
          val perStage = j.stageInfos.map(_.numTasks).mkString("+")
          starts.put(j.jobId, (System.nanoTime(), s"tasks=$perStage  $desc"))
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit =
          Option(starts.remove(j.jobId)).foreach { case (t0, desc) =>
            println(f"[job] ${j.jobId}%-4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $desc")
          }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(150) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"[profile] $n%-28s run$i $dt%8.3f s  jobs=${jobs.get}%-4d stages=${stages.get}%-4d tasks=${tasks.get}%-6d")
      CheckpointBlocks.releaseAll(spark)
    }
    qNames.filter(n =>
        n == "GC" || n.startsWith("SET:") || SparkEntry.queries.contains(n))
      .foreach { n =>
      if (n == "GC") {
        System.gc(); Thread.sleep(500); System.gc()
        println("[profile] forced full GC")
      } else if (n.startsWith("SET:")) {
        n.stripPrefix("SET:").split("=", 2) match {
          case Array(k, v) =>
            spark.conf.set(k, v)
            println(s"[profile] conf $k = $v (mid-sequence)")
          case _ =>
            println(s"[profile] bad SET token (need SET:key=value): $n")
        }
      } else if (flags.nonEmpty) {
        println(s"[profile] ==== $n plan ====")
        println(SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode))
        CheckpointBlocks.releaseAll(spark)
      } else {
        println(f"[profile] $n%-28s jobs_ms ${jobMs()}%6.1f")
        (1 to 3).foreach(i => timedRun(n, i))
      }
    }
    spark.stop()
  }
}
