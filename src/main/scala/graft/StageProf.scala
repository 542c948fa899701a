package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Diagnostic main (the r17.2 listener idea, kept as a named main): runs
  * the named rows with a stage listener and prints per-stage wall time,
  * task time, task count and shuffle bytes, so the dominant stage of a
  * hot row is read off measurements instead of guessed. A row is a query
  * name or a Bench `artifact:*` row name — a warm-tier build
  * (`artifact:warm:*`, [[SparkEntry.warmArtifactBuilders]]) or a
  * per-round sweep ([[SparkEntry.roundSweepBuilders]]). Builders run in
  * their list order, and the unnamed ones run untimed, because later
  * builders read earlier artifacts. A query row profiles as its Bench
  * row does: after the reset, every round sweep is built untimed first,
  * so the query pays none of the sweeps that a full Bench round times
  * as their own `artifact:*` rows. Extra session confs come from
  * SPARK_GRAFT_EXTRA_CONF ("k=v;k=v") for scoped A/Bs (e.g. AQE off).
  * Never graded; does not touch pointer files. */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    HarnessLock.acquireOrDie("stageprof")
    val spark = Session.local()
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { kvs =>
      kvs.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
        println(s"[prof] conf $k=$v")
      }
    }
    val names = args.toSet
    val warm = SparkEntry.warmArtifactBuilders(sfDir)
    val sweeps = SparkEntry.roundSweepBuilders(sfDir)
    (names -- SparkEntry.queries.keySet -- (warm ++ sweeps).map(_._1))
      .foreach(n => System.err.println(s"[prof] no query or artifact row $n"))
    @volatile var rows =
      List.empty[(Int, String, Long, Long, Int, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        rows = (si.stageId, si.name.take(60), wall,
          m.executorRunTime, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten) :: rows
      }
    })
    def profile(nm: String)(body: => Unit): Unit = {
      // let earlier untimed work's stage events drain before the reset
      Thread.sleep(300)
      rows = Nil
      spark.sparkContext.setJobDescription(nm)
      val t0 = System.nanoTime()
      try {
        body
        println(f"[prof] ===== $nm total=${(System.nanoTime() - t0) / 1e9}%.3f s")
      } catch { case e: Throwable =>
        println(s"[prof] $nm FAILED: ${e.getMessage}")
      }
      spark.sparkContext.setJobDescription(null)
      // give the listener bus a moment to drain
      Thread.sleep(300)
      println(f"[prof] ${rows.size} stages, wall-sum=" +
        f"${rows.map(_._3).sum / 1e3}%.3f s, taskTime-sum=" +
        f"${rows.map(_._4).sum / 1e3}%.3f s")
      rows.sortBy(-_._3).take(14).foreach {
        case (sid, snm, wall, run, nt, sr, sw) =>
          println(f"[prof]   stage $sid%5d wall=${wall / 1e3}%7.3f s " +
            f"task=${run / 1e3}%7.3f s n=$nt%3d shR=${sr / 1e6}%8.2f MB " +
            f"shW=${sw / 1e6}%8.2f MB  $snm")
      }
    }
    def untimed(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[prof] $what failed: ${e.getMessage}") }
    // Bench parity: one trivial scan absorbs scheduler/parquet reader
    // startup before the first timed warm build.
    untimed("region scan")(Bench.materialize(Tables(spark, sfDir, "region")))
    warm.foreach { case (nm, build) =>
      if (names(nm)) profile(nm)(build(spark))
      else untimed(nm)(build(spark))
    }
    val queries = args.toSeq.filter(SparkEntry.queries.contains)
    // one untimed pass per query for codegen/classload
    queries.foreach(n =>
      untimed(s"warm $n")(Bench.materialize(SparkEntry.queries(n)(spark, sfDir))))
    // Bench-parity reset: each bench round starts with a cold cache and
    // cleared sweeps, so each profiled sweep and query starts there too —
    // otherwise a row whose cost is its persisted intermediates profiles
    // as nearly free.
    def reset(): Unit = {
      spark.catalog.clearCache()
      SparkEntry.clearSessionSweeps()
    }
    sweeps.indices.filter(i => names(sweeps(i)._1)).foreach { i =>
      reset()
      sweeps.take(i).foreach { case (nm, build) => untimed(nm)(build(spark)) }
      profile(sweeps(i)._1)(sweeps(i)._2(spark))
    }
    queries.foreach { n =>
      reset()
      sweeps.foreach { case (nm, build) => untimed(nm)(build(spark)) }
      profile(n) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val tC = System.nanoTime()
        Bench.materialize(df)
        println(f"[prof] $n construct=${(tC - t0) / 1e9}%.3f s, " +
          f"action=${(System.nanoTime() - tC) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
