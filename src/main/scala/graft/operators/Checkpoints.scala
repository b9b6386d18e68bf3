package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncation rung for iterative driver loops
  * (`connectedComponents`, `pagerankRanks`): every few rounds the
  * small per-node relation is materialized and its logical plan cut,
  * so plan depth — and with it per-round analysis/optimization cost
  * and optimizer stack depth — stays CONSTANT in the iteration count.
  *
  * Two modes behind one config point:
  *   - local (default): `localCheckpoint()` — executor-memory blocks,
  *     cheapest, right for local[32] and for clusters where losing an
  *     executor may restart the (short) loop.
  *   - reliable: `checkpoint()` to the session checkpoint dir — at
  *     100 TB an iterative loop that runs for hours must survive
  *     executor loss; localCheckpoint blocks die with their executor
  *     and kill the job. The cadence logic is identical; only the
  *     storage rung changes.
  *
  * Selected by `GRAFT_RELIABLE_CHECKPOINT=1` (deploy-time, no code
  * change) or the `reliable` var (spec'd directly). The checkpoint
  * dir defaults to this JVM's scratch (Spark writes each context's
  * checkpoints under a fresh UUID, never read by a later run, so the
  * scratch cleanup removes them); production sets
  * `sparkContext.setCheckpointDir` to cluster storage first and this
  * helper respects it.
  */
object Checkpoints {

  @volatile var reliable: Boolean =
    sys.env.get("GRAFT_RELIABLE_CHECKPOINT").contains("1")

  private def ensureCheckpointDir(s: SparkSession): Unit =
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(
        graft.Scratch.processScoped("graft_ckpt").toString)

  /** Eagerly materialize `df` and truncate its lineage on the
    * configured rung. Both branches return a plan whose depth is
    * independent of how `df` was built. */
  def truncate(df: DataFrame): DataFrame =
    if (reliable) {
      ensureCheckpointDir(df.sparkSession)
      df.checkpoint() // eager + reliable (HDFS/cluster-storage blocks)
    } else df.localCheckpoint()
}
