package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reads of Spark's own bookkeeping that are `private[spark]`; this
  * in-package shim is the only way in. */
object SparkShim {

  /** Waits until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** One job the application ran, as its status store keeps it: its
    * job group and description, its submission and completion times
    * (epoch ms), the bytes its stages read, wrote to shuffle and
    * spilled to disk, and the CPU time its tasks took. */
  final case class Job(group: Option[String], description: Option[String],
      startMs: Long, endMs: Long, inputBytes: Long, shuffleBytes: Long,
      spillBytes: Long, taskCpuNs: Long)

  /** Every finished job the status store holds (it keeps the latest
    * `spark.ui.retainedJobs`). */
  def jobs(sc: SparkContext): Seq[Job] = {
    drain(sc)
    val st = sc.statusStore
    st.jobsList(null).flatMap { j =>
      for {
        start <- j.submissionTime
        end <- j.completionTime
      } yield {
        val stages = j.stageIds.flatMap(id => st.stageData(id))
        Job(j.jobGroup, j.description, start.getTime, end.getTime,
          stages.map(_.inputBytes).sum, stages.map(_.shuffleWriteBytes).sum,
          stages.map(_.diskBytesSpilled).sum,
          stages.map(x => x.executorCpuTime + x.executorDeserializeCpuTime).sum)
      }
    }
  }
}
