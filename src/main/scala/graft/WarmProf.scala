package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Throwaway diagnostic for the r18 warm-tier work: times each
  * `artifact:warm:*` builder (the rows Bench now grades) with the
  * StageProf listener attached, so the dominant stage of each BUILD is
  * read off measurements. StageProf can't do this — it warms the
  * artifacts untimed before profiling queries. Never graded; does not
  * touch pointer files. */
object WarmProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    HarnessLock.acquireOrDie("warmprof")
    val spark = Session.local()
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { kvs =>
      kvs.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
        println(s"[warmprof] conf $k=$v")
      }
    }
    @volatile var rows =
      List.empty[(Int, String, Long, Long, Int, Long, Long)]
    val listener = new SparkListener {
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
    }
    // Bench-parity warmup: one trivial scan to absorb scheduler/parquet
    // reader startup, exactly what Bench does before timing warm rows.
    try {
      val df = Tables(spark, sfDir, "region")
      df.count()
    } catch { case _: Throwable => () }
    spark.sparkContext.addSparkListener(listener)
    val only = args.toSet
    SparkEntry.warmArtifactBuilders(sfDir).foreach { case (nm, build) =>
      if (only.isEmpty || only.exists(nm.contains)) {
        rows = Nil
        spark.sparkContext.setJobDescription(nm)
        val t0 = System.nanoTime()
        try {
          build(spark)
          println(f"[warmprof] ===== $nm total=${(System.nanoTime() - t0) / 1e9}%.3f s")
        } catch { case e: Throwable =>
          println(s"[warmprof] $nm FAILED: ${e.getMessage}")
        }
        spark.sparkContext.setJobDescription(null)
        Thread.sleep(300)
        val sorted = rows.sortBy(-_._3)
        println(f"[warmprof] ${rows.size} stages, wall-sum=" +
          f"${rows.map(_._3).sum / 1e3}%.3f s, taskTime-sum=" +
          f"${rows.map(_._4).sum / 1e3}%.3f s")
        sorted.take(12).foreach { case (sid, snm, wall, run, nt, sr, sw) =>
          println(f"[warmprof]   stage $sid%5d wall=${wall / 1e3}%7.3f s " +
            f"task=${run / 1e3}%7.3f s n=$nt%3d shR=${sr / 1e6}%8.2f MB " +
            f"shW=${sw / 1e6}%8.2f MB  $snm")
        }
      } else {
        // still build (later builders depend on earlier artifacts), just
        // don't print its profile
        try build(spark) catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
