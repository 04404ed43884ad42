package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Materialize

/** The admission loop every streaming admission gate runs
  * ([[CorpusAdmission]], [[VectorAdmission]], [[MediaAdmission]],
  * [[UnifiedAdmission]], [[IncrementalCuration]]). A gate supplies its
  * audit (`decide`: one micro-batch → admitted rows and quarantine
  * rows) and its store appends (`append`); [[run]] owns the protocol:
  *
  *  1. every read and write of the batch runs on `batch.sparkSession`,
  *     which `decide` and `append` take from the batch they are given
  *     (the rule every micro-batch step of this package follows).
  *     Under `foreachBatch` the batch is bound to the stream's clone of
  *     the caller's session, and Spark's write→read coherence holds only
  *     within one session: an audit on another session can read a
  *     store listing from before the previous batch's append;
  *  2. `decide(batch)` audits the batch against the stores;
  *  3. admitted and quarantined rows are pinned with
  *     [[graft.operators.Materialize.shared]] (an eager checkpoint)
  *     before any write, so every write of the batch sees one decision.
  *     A `cached` pin would not hold: a write to a catalog table makes
  *     the CacheManager recache, that is re-evaluate, every cached plan
  *     that reads the table, and the decision would be re-made against
  *     the grown store between two appends. The pins last until the end
  *     of the micro-batch ([[MicroBatches.start]]);
  *  4. admitted rows overwrite `corpusDir/batch_id=<id>` (when the gate
  *     has a corpus sink), quarantined rows overwrite
  *     `quarantineDir/batch_id=<id>`; readers of the sink roots see
  *     `batch_id` as an ordinary partition column;
  *  5. `append(batch, admitted)` appends the pinned admitted
  *     rows to the gate's stores.
  *
  * At-least-once contract. `foreachBatch` may run a batch again after a
  * crash anywhere in steps 4–5, against stores that already hold some
  * or all of its appends. The sinks converge because a replay
  * overwrites its own `batch_id` directory. The verdicts converge
  * because each audit reads its store deduplicated and never matches an
  * incoming row against its own stored copy (same doc_id, vec_id, or a
  * class whose exemplar is in the batch), so a replayed batch
  * re-derives its original decisions. What a replay can leave behind is
  * per store and documented by each gate: duplicate physical rows
  * (dropped on read, or by a maintenance pass) and upper-bound counts.
  *
  * The batch is the consistency unit: two rows of one batch that match
  * each other are both fresh against the store and both admitted
  * (`distinctTexts` collapses exact copies only). A replay of such a
  * batch, after its first run stored both rows, sees each one match the
  * other and quarantines them, so the fixed point holds only for
  * batches without an in-batch near-duplicate pair.
  */
final case class Admission(
    corpusDir: Option[String], quarantineDir: String,
    decide: DataFrame => (DataFrame, DataFrame),
    append: (DataFrame, DataFrame) => Unit) {

  /** One micro-batch through steps 1–5. Returns the pinned (admitted,
    * quarantined) rows.
    */
  def run(batch: DataFrame, batchId: Long): (DataFrame, DataFrame) = {
    val (admitted, quarantined) = decide(batch)
    val keep = Materialize.shared(admitted)
    val quar = Materialize.shared(quarantined)
    corpusDir.foreach(BatchStore.overwrite(keep, _, batchId))
    BatchStore.overwrite(quar, quarantineDir, batchId)
    append(batch, keep)
    (keep, quar)
  }

  /** The streaming gate: [[run]] on every micro-batch of `docs`. */
  def start(docs: DataFrame, checkpointDir: String): StreamingQuery =
    MicroBatches.start(docs, checkpointDir)((batch, batchId) =>
      run(batch, batchId): Unit)
}

object Admission {

  /** In-batch exact dedup: one row per `sha2(text)`, the lowest
    * `doc_id` kept.
    */
  def distinctTexts(batch: DataFrame): DataFrame =
    strongest(batch, sha2(col("text").cast("binary"), 256), col("doc_id"))

  /** The strongest match per `key`: the first row under `order`, which
    * must break every tie for the choice to be deterministic.
    */
  def strongest(matches: DataFrame, key: Column, order: Column*): DataFrame =
    matches
      .withColumn("__rn",
        row_number().over(Window.partitionBy(key).orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Split `batch` by its strongest matches `best` (one row per matched
    * `batch(key)`, keyed by `best(matchKey)`): (admitted — the unmatched
    * rows, batch schema; quarantined — the matched rows with `best`'s
    * columns appended, `matchKey` dropped).
    */
  def verdict(batch: DataFrame, key: String, best: DataFrame,
              matchKey: String): (DataFrame, DataFrame) = {
    val quarantined = batch.join(best, batch(key) === best(matchKey))
      .drop(matchKey)
    val admitted = batch.join(best.select(col(matchKey)),
      batch(key) === col(matchKey), "left_anti")
    (admitted, quarantined)
  }
}
