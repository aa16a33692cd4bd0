package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncating materialization: the one place batch code pins a
  * subtree's result — multi-consumer states (the q103/q104 pattern:
  * differently-pruned consumers would otherwise re-run it) and every
  * round of the iterative loops (ConnectedComponents' BSP rounds, the
  * Lloyd rounds), whose plans would otherwise double per round.
  *
  * Default is `localCheckpoint()`: executor-block storage, fastest, the
  * right choice for a single-node bench. On a real cluster an executor
  * loss deletes its local blocks and kills the query mid-flight, so
  * deployments set `spark.graft.reliableCheckpoints=true` (plus
  * `SparkContext.setCheckpointDir` on a durable FS) and every
  * materialization switches to `checkpoint()`, which survives
  * executor loss. Both are eager: the result is written in one job, so
  * a durable round is computed once with no `persist`.
  * The knob is a session conf rather than
  * a parameter because the driver contract fixes query signatures to
  * `(SparkSession, dir) => DataFrame`.
  */
object Materialize {

  val ReliableKey = "spark.graft.reliableCheckpoints"

  /** Whether this session asked for durable checkpoints. Fails fast
    * (before any work) if it did without a configured checkpoint dir. */
  private def reliable(spark: SparkSession): Boolean = {
    val r = spark.conf.getOption(ReliableKey)
      .exists(_.trim.equalsIgnoreCase("true"))
    if (r && spark.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        s"$ReliableKey=true needs SparkContext.setCheckpointDir(<durable fs>)")
    r
  }

  /** Materialize `df` and truncate its lineage, honoring the session's
    * durability knob. */
  def truncate(df: DataFrame): DataFrame =
    if (reliable(df.sparkSession)) df.checkpoint()
    else df.localCheckpoint()
}
