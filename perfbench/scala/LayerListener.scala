package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark-level counters for one action at a time, registered by the
  * benchmark itself (nothing inside the engine is instrumented).
  *
  * Every job is attributed to the phase whose window it was submitted in:
  * the phase boundaries are wall-clock millis taken by the caller, the job
  * time is the scheduler's submission time. Stages and tasks follow their
  * job; stored RDD blocks follow the first stage that computed their RDD.
  * The caller must drain the listener bus before [[collect]].
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private final class Job(val id: Int, val startMs: Long) {
    var endMs: Long = startMs
  }
  private final class Stage(val id: Int, val attempt: Int, val name: String) {
    var submitMs: Long = 0L
    var doneMs: Long   = 0L
    val c              = new Counters
  }

  private val jobs        = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob  = mutable.Map.empty[Int, Int]
  private val stages      = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val rddToStage  = mutable.Map.empty[Int, Int]
  private val rddBlockMb  = mutable.Map.empty[Int, Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i  = e.stageInfo
    val st = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new Stage(i.stageId, i.attemptNumber(), i.name))
    st.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
    i.rddInfos.foreach(r => rddToStage.getOrElseUpdate(r.id, i.stageId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { st =>
      st.doneMs = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new Stage(e.stageId, e.stageAttemptId, ""))
    val c  = st.c
    c.tasks += 1
    val info = e.taskInfo
    if (st.submitMs > 0) c.taskWaitS += math.max(0L, info.launchTime - st.submitMs) / 1e3
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunS += m.executorRunTime / 1e3
      c.taskCpuS += m.executorCpuTime / 1e9
      c.gcS += m.jvmGCTime / 1e3
      c.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / Mb
      c.shuffleReadMb += (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / Mb
      c.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / Mb
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.storageLevel.isValid) b.blockId.asRDDId match {
      case Some(r) =>
        rddBlockMb(r.rddId) = rddBlockMb.getOrElse(r.rddId, 0.0) + (b.memSize + b.diskSize) / Mb
      case None => ()
    }
  }

  /** Counters and job/stage spans of the action whose phase boundaries are
    * `bounds` (epoch millis: action start, builder end, catalyst end, action
    * end), then forget everything seen so far. */
  def collect(bounds: Array[Long]): ActionLayers = synchronized {
    val out = ActionLayers(Phases.map(_ -> new Counters).toMap)
    def phaseOf(ms: Long): String =
      if (ms < bounds(1)) "builder" else if (ms < bounds(2)) "catalyst" else "exec"
    val jobPhase = jobs.values.map(j => j.id -> phaseOf(j.startMs)).toMap
    jobs.values.foreach { j =>
      out.phases(jobPhase(j.id)).jobs += 1
      out.jobs += JobSpan(j.id, jobPhase(j.id), j.startMs, j.endMs)
    }
    stages.values.foreach { st =>
      val ph = stageToJob.get(st.id).flatMap(jobPhase.get).getOrElse("exec")
      val c  = out.phases(ph)
      if (st.submitMs > 0) c.stages += 1
      c.add(st.c)
      stageToJob.get(st.id).foreach { j =>
        if (st.submitMs > 0) out.stages += StageSpan(st.id, st.attempt, j, st.name, st.submitMs, math.max(st.doneMs, st.submitMs))
      }
    }
    rddBlockMb.foreach { case (rdd, mb) =>
      val ph = rddToStage.get(rdd).flatMap(stageToJob.get).flatMap(jobPhase.get).getOrElse("exec")
      out.phases(ph).blockMb += mb
    }
    jobs.clear(); stageToJob.clear(); stages.clear(); rddToStage.clear(); rddBlockMb.clear()
    out
  }
}

object LayerListener {
  val Mb: Double          = 1024.0 * 1024.0
  val Phases: Seq[String] = Seq("builder", "catalyst", "exec")
}

/** Additive Spark counters of one phase (or one stage). */
final class Counters {
  var jobs, stages, tasks                             = 0L
  var taskRunS, taskCpuS, taskWaitS, gcS              = 0.0
  var spillMb, shuffleReadMb, shuffleWriteMb, blockMb = 0.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunS += o.taskRunS; taskCpuS += o.taskCpuS; taskWaitS += o.taskWaitS; gcS += o.gcS
    spillMb += o.spillMb; shuffleReadMb += o.shuffleReadMb; shuffleWriteMb += o.shuffleWriteMb
    blockMb += o.blockMb
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> taskRunS, "task_cpu_s" -> taskCpuS, "task_wait_s" -> taskWaitS,
    "gc_s" -> gcS, "spill_mb" -> spillMb, "shuffle_read_mb" -> shuffleReadMb,
    "shuffle_write_mb" -> shuffleWriteMb, "block_mb" -> blockMb
  )
}

final case class JobSpan(id: Int, phase: String, startMs: Long, endMs: Long)
final case class StageSpan(id: Int, attempt: Int, job: Int, name: String, startMs: Long, endMs: Long)
final case class ActionLayers(
    phases: Map[String, Counters],
    jobs: mutable.ArrayBuffer[JobSpan] = mutable.ArrayBuffer.empty,
    stages: mutable.ArrayBuffer[StageSpan] = mutable.ArrayBuffer.empty)
