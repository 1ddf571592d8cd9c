package graft.store

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.WriteJobStatsTracker
import org.apache.spark.sql.graftbridge.GraftBridge

/** The store's one file writer: parquet written straight into a table's
  * final directories, with the [[TableLog]] manifest as the only commit
  * (the design of Delta's `DelayedCommitProtocol`). Nothing is staged or
  * renamed: no attempt tree, no `_SUCCESS`, no job-commit move — on the
  * local FS each of those creates forks permission calls, and on an
  * object store a rename is a copy. A file becomes visible only when the
  * caller publishes the returned paths; until then, and for good after a
  * failed or crashed write, it is an orphan that every manifest read
  * skips and [[TableLog.vacuum]] reclaims. Local files are created
  * through [[LocalStoreFs]], bound in the write's own Hadoop conf. */
object InPlaceWrite {

  /** Write `df` under `base`, partitioned by `partCols`, and return the
    * written files relative to `base`, unpublished. A `stats` tracker
    * sees every written row in the write's own tasks and gets their
    * stats on the driver once the job commits (see [[FileStats]]). */
  def parquet(df: DataFrame, base: Path, partCols: Seq[String],
      stats: Option[WriteJobStatsTracker] = None): Seq[String] = {
    val protocol = new InPlaceCommitProtocol(java.util.UUID.randomUUID().toString, base.toString)
    GraftBridge.writeParquet(df, base.toString, partCols, protocol,
      LocalStoreFs.writeOptions(base, df.sparkSession.sparkContext.hadoopConfiguration),
      stats.toSeq)
    protocol.committed
  }
}

/** Commit protocol of [[InPlaceWrite]]: each task attempt writes files
  * with names of its own (job uuid, partition, attempt) at their final
  * paths; `commitTask` reports them, `commitJob` keeps them for the
  * caller to publish, and an aborted task deletes what it wrote. */
final class InPlaceCommitProtocol(jobId: String, base: String)
    extends FileCommitProtocol with Serializable {

  private var added: List[String] = Nil
  @volatile private var files: Seq[String] = Nil

  /** The files of every committed task, relative to the base path. */
  def committed: Seq[String] = files

  override def setupJob(jc: JobContext): Unit = ()
  override def commitJob(jc: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    files = msgs.flatMap(_.obj.asInstanceOf[Seq[String]])
  override def abortJob(jc: JobContext): Unit = ()

  override def setupTask(tc: TaskAttemptContext): Unit = added = Nil

  override def newTaskTempFile(tc: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val attempt = tc.getTaskAttemptID
    val name = f"${spec.prefix}part-${attempt.getTaskID.getId}%05d-$jobId-${attempt.getId}${spec.suffix}"
    val rel = dir.fold(name)(d => s"$d/$name")
    added = rel :: added
    new Path(base, rel).toString
  }

  override def commitTask(tc: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(added.reverse)

  override def abortTask(tc: TaskAttemptContext): Unit = {
    val root = new Path(base)
    val fs = root.getFileSystem(tc.getConfiguration)
    added.foreach(rel => scala.util.Try(fs.delete(new Path(root, rel), false)))
  }
}
