package kgbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Resource use of the Spark jobs run under one job group. */
final case class Usage(jobs: Int = 0, cpuNs: Long = 0L, shuffleBytes: Long = 0L,
    spillBytes: Long = 0L, bytesRead: Long = 0L,
    stages: Vector[(Long, Long)] = Vector.empty) {
  def +(o: Usage): Usage = Usage(jobs + o.jobs, cpuNs + o.cpuNs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    bytesRead + o.bytesRead, stages ++ o.stages)

  /** Milliseconds of [t0, t1] during which at least one stage ran: the
    * union of stage intervals, so concurrent stages (AQE submits several
    * at once) are not counted twice. */
  def busyMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    stages.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
    covered
  }
}

/** Collects task and stage metrics keyed by the job group the driver set
  * when it submitted the job (`SparkContext.setJobGroup`), plus the peak
  * bytes held by cached RDD blocks. Read only through [[usage]], which
  * drains the listener bus first. */
final class GroupListener(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, Usage]
  private val cached = mutable.HashMap.empty[RDDBlockId, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  private def update(g: String)(f: Usage => Usage): Unit =
    byGroup(g) = f(byGroup.getOrElse(g, Usage()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(stageGroup(_) = g)
        update(g)(u => u.copy(jobs = u.jobs + 1))
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics))
      update(g)(u => u.copy(cpuNs = u.cpuNs + m.executorCpuTime,
        shuffleBytes = u.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = u.spillBytes + m.diskBytesSpilled,
        bytesRead = u.bytesRead + m.inputMetrics.bytesRead))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (g <- stageGroup.get(i.stageId); s <- i.submissionTime; c <- i.completionTime)
      update(g)(u => u.copy(stages = u.stages :+ ((s, c))))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val bytes = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        cachedNow += bytes - cached.getOrElse(id, 0L)
        if (bytes == 0) cached.remove(id) else cached(id) = bytes
        cachedPeak = math.max(cachedPeak, cachedNow)
      case _ =>
    }
  }

  def usage(group: String): Usage = {
    org.apache.spark.kgbench.Bus.drain(sc)
    synchronized(byGroup.getOrElse(group, Usage()))
  }

  /** Peak cached bytes since the last call, after draining the bus. */
  def takeCachedPeak(): Long = {
    org.apache.spark.kgbench.Bus.drain(sc)
    synchronized { val p = cachedPeak; cachedPeak = cachedNow; p }
  }
}

/** Counts the per-round lines that `Canonicalizer.connectedComponents`
  * prints to stderr when `SPARK_GRAFT_CC_DEBUG` is set, passing all output
  * through. */
final class RoundCounter(underlying: java.io.PrintStream)
    extends java.io.OutputStream {
  private val line = new java.io.ByteArrayOutputStream()
  private var n = 0
  override def write(b: Int): Unit = synchronized {
    underlying.write(b)
    if (b == '\n') {
      if (line.toString("UTF-8").contains("] cc round ")) n += 1
      line.reset()
    } else line.write(b)
  }
  override def flush(): Unit = underlying.flush()
  def rounds: Int = synchronized(n)
}
