package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** T9: streaming distribution-drift monitor — the X44 two-sample KS
  * gate run PER MICRO-BATCH against a persisted reference census: the
  * admission-side answer to "has the feed changed under me", raised
  * BEFORE drifted data contaminates the corpus (the batch counterpart
  * audits after the fact). Each batch's doc-length census is compared
  * to the reference's; the KS statistic, sizes, and an alarm verdict
  * under `barMicro` land in a batch-keyed monitor sink.
  *
  * Semantics and scale:
  *  - the reference census is a BOUNDED (value, count) relation —
  *    loading it per batch is a broadcast-sized read, and the batch
  *    census partial-aggregates the micro-batch only; nothing scans
  *    the historical corpus;
  *  - the KS core is [[TextOps.ksBetweenCensuses]] — integer
  *    numerators, one division, so the monitor emits the same number
  *    the offline X44 audit would compute for that batch;
  *  - each batch's row reads no predecessor, so a replay converges by
  *    [[BatchStore.overwrite]] of its own partition alone;
  *  - the monitor only OBSERVES (no quarantine side effect): wiring
  *    the alarm into [[UnifiedAdmission]]'s gate is deployment
  *    policy, deliberately not baked in here.
  */
object DriftMonitor {

  /** Build + persist the reference doc-length census from an accepted
    * corpus (one partial-agg'd Exchange; the census is value-domain
    * bounded).
    */
  def saveReference(docs: DataFrame, path: String): Unit =
    docs.select(size(TextOps.tokens(col("text"))).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(path)

  /** One batch vs the reference: a single row
    * (n_batch, n_ref, ks_num, ks_micro, alarm).
    */
  def batchKs(batch: DataFrame, refPath: String, barMicro: Long): DataFrame = {
    val ref = batch.sparkSession.read.parquet(refPath)
    val bcen = batch
      .select(size(TextOps.tokens(col("text"))).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    TextOps.ksBetweenCensuses(bcen, ref)
      .select(col("n_a").as("n_batch"), col("n_b").as("n_ref"),
        col("ks_num"), col("ks_micro"),
        (col("ks_micro") >= barMicro).as("alarm"))
  }

  /** One micro-batch of docs: its KS row vs the reference in
    * `monitorDir/batch_id=<id>`; an empty batch writes nothing.
    */
  def processBatch(batch: DataFrame, refPath: String, monitorDir: String,
                   batchId: Long, barMicro: Long): Unit =
    if (!batch.isEmpty)
      BatchStore.overwrite(batchKs(batch, refPath, barMicro), monitorDir,
        batchId)
}
