package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload's closed loop. `items` is the work it
  * completed (rows landed, documents processed). */
final case class Op(seconds: Double, items: Long)

/** Everything a workload needs from the run: the session, the tracer, the
  * seed that generates its inputs, a scratch directory inside the checkout
  * and whether to use the self-test's tiny inputs. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     workDir: String, smoke: Boolean) {
  def path(rel: String): String = s"$workDir/$rel"

  def deleteTree(rel: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(rel))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** In a traced run, materializes `df` in executor memory so the span
    * around this call holds the work of the layer that produced it and the
    * next layer reads a staged batch (release it with `release`). In an
    * untraced run `df` is returned as it is: the layers compose lazily, as
    * the library composes them, and the staging cost shows in the tracing
    * overhead. */
  def stage(df: DataFrame): DataFrame =
    if (!tracer.enabled) df
    else {
      val s = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }

  def release(dfs: DataFrame*): Unit =
    if (tracer.enabled) dfs.foreach(_.unpersist(true))

  /** Executor block-store bytes (memory + disk) pinned right now. */
  def stagedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** A closed loop with one client: `op(i)` runs only after `op(i - 1)`
  * returned. Inputs come from the seed alone. */
trait Workload {
  /** Timed ops whose counters are reported: the first `counterWindow`
    * ops of every run with one seed are the same operations, so their
    * counters repeat exactly, however many ops the time allows. */
  def counterWindow: Int
  /** Untimed work after the first set-up, so JIT and codegen settle on
    * every code path an op runs that set-up does not. */
  def warmup(): Unit

  /** Builds inputs and stored state from scratch. */
  def setup(): Unit
  def op(i: Int): Op
  /** Verifies every op's output after the loop; returns how many failed. */
  def check(ops: IndexedSeq[Op]): Int
  /** Input sizes and other workload facts for the result record. */
  def details: Map[String, Any]
  /** Per-layer metrics from the traced run. */
  def layers(t: TraceView, ops: IndexedSeq[Op]): Map[String, Double]
  /** Extra traced-only measurement after the loop (may be a no-op). */
  def tracedExtras(): Map[String, Double] = Map.empty
}
