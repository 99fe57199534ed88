package graft.bench

import graft.bench.LayerListener.{JobRec, StageRec}

/** Per-layer figures of one traced pass, from the benchmark's call
  * spans and the jobs/stages the listener parented to them. Self time
  * of a span is its length minus the time its child spans cover, so a
  * call's `driver_s` is the part of it no Spark job was running. */
object LayerMetrics {

  final case class CallStats(s: Double, jobs: Int, driverS: Double, cpuS: Double)

  private val MB = 1024.0 * 1024.0

  def perCall(calls: Seq[CallSpan], jobs: Seq[JobRec], stages: Seq[StageRec]): Map[String, CallStats] = {
    val jobsOf = jobs.groupBy(_.parent)
    val cpuOfJob = stages.groupBy(_.job).map { case (j, ss) => j -> ss.map(_.cpuNs).sum / 1e9 }
    calls.groupBy(_.name).map { case (name, cs) =>
      val parts = cs.map { c =>
        val js = jobsOf.getOrElse(c.id, Nil)
        val busy = Tracer.covered(js.map(j => (j.start.toDouble, j.end.toDouble)), c.start, c.end)
        CallStats(c.seconds, js.size, c.seconds - busy / 1000.0,
          js.map(j => cpuOfJob.getOrElse(j.id, 0.0)).sum)
      }
      name -> CallStats(parts.map(_.s).sum, parts.map(_.jobs).sum,
        parts.map(_.driverS).sum, parts.map(_.cpuS).sum)
    }
  }

  def pass(calls: Seq[CallSpan], jobs: Seq[JobRec], stages: Seq[StageRec], cores: Int): Map[String, Double] = {
    val wall = calls.map(_.seconds).sum
    val tasks = stages.flatMap(_.tasks)
    val nTasks = tasks.size
    val runS = stages.map(_.runMs).sum / 1000.0
    val sortedTasks = tasks.sorted
    val medianTask = if (sortedTasks.isEmpty) 0L else sortedTasks(sortedTasks.size / 2)
    Map(
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> nTasks.toDouble,
      "scheduler.tasks_per_stage" -> (if (stages.isEmpty) 0.0 else nTasks.toDouble / stages.size),
      "scheduler.driver_s" -> perCall(calls, jobs, stages).values.map(_.driverS).sum,
      "executor.run_s" -> runS,
      "executor.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
      "executor.busy_ratio" -> (if (wall <= 0) 0.0 else runS / (wall * cores)),
      // task times are whole milliseconds: a 0 ms median reads as 1 ms
      "executor.skew" -> (if (sortedTasks.isEmpty) 0.0
        else sortedTasks.last.toDouble / math.max(1L, medianTask)),
      "shuffle.write_mb" -> stages.map(_.shuffleWrite).sum / MB,
      "shuffle.read_mb" -> stages.map(_.shuffleRead).sum / MB,
      "shuffle.spill_mb" -> stages.map(_.spill).sum / MB,
      "io.read_mb" -> stages.map(_.bytesRead).sum / MB,
      "io.write_mb" -> stages.map(_.bytesWritten).sum / MB,
      "io.records_written" -> stages.map(_.recordsWritten).sum.toDouble)
  }

  /** Call, job and stage spans with pass-relative times in ms. */
  def spans(calls: Seq[CallSpan], jobs: Seq[JobRec], stages: Seq[StageRec]): Seq[Map[String, Any]] = {
    val t0 = calls.map(_.start).minOption.getOrElse(0.0)
    val stagesOf = stages.groupBy(_.job)
    val jobsOf = jobs.groupBy(_.parent)
    def rec(id: String, parent: String, kind: String, name: String,
        a: Double, b: Double, children: Seq[(Double, Double)]) = Map[String, Any](
      "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "start_ms" -> (a - t0), "dur_ms" -> (b - a),
      "self_ms" -> ((b - a) - Tracer.covered(children, a, b)))
    calls.flatMap { c =>
      val js = jobsOf.getOrElse(c.id, Nil)
      rec(s"c${c.id}", "", c.kind, c.name, c.start, c.end,
        js.map(j => (j.start.toDouble, j.end.toDouble))) +:
        js.flatMap { j =>
          val ss = stagesOf.getOrElse(j.id, Nil)
          rec(s"j${j.id}", s"c${c.id}", "job", s"job ${j.id}", j.start, j.end,
            ss.map(s => (s.start.toDouble, s.end.toDouble))) +:
            ss.map(s => rec(s"s${s.id}.${s.attempt}", s"j${j.id}", "stage", s.name,
              s.start, s.end, Nil) ++ Map(
              "tasks" -> s.tasks.size, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1e6,
              "shuffle_write_b" -> s.shuffleWrite, "shuffle_read_b" -> s.shuffleRead))
        }
    }
  }
}
