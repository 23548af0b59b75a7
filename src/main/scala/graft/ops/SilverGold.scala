package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's Silver->Gold feature-engineering stage
  * (/root/reference/data_processing/batch_processing/
  * batch_process_Silver_to_Gold.py): select + na.drop (:83-87), raw-id
  * copies (:95-96), frequency-indexing of the categorical columns
  * (:106-126), bulk rename back (:129-130), int casts + load timestamps
  * (:132-152), and the click==1 retrieval split (:171).
  *
  * Differences by design: one single-pass fit instead of 16 serial
  * estimator scans (SURVEY.md §4.2 #5); the pipeline is NOT re-executed per
  * sink — callers cache `gold` before fanning out to multiple sinks
  * (§4.2 #3).
  */
object SilverGold {

  /** @param silver input wide table
    * @param keep   columns to carry (na.drop applied across them)
    * @param rawCopy columns duplicated as `<col>_raw` BEFORE indexing
    *                (user_id/item_id in the reference)
    * @param index  categorical columns replaced by their frequency index */
  case class Gold(table: DataFrame, model: Categorify.Model)

  def toGold(silver: DataFrame, keep: Seq[String], rawCopy: Seq[String],
             index: Seq[String], eventTime: String = null): Gold = {
    val selected = silver.select(keep.map(col): _*).na.drop()
    val model = Categorify.fit(selected, index)
    Gold(applyModel(selected, model, rawCopy, index, eventTime), model)
  }

  /** The gold steps after the fit, shared by the batch job and the
    * stream that indexes with the batch-fitted model: raw-id copies,
    * indexing, the int cast battery and load timestamps (created = wall
    * clock at load; datetime = event time when present, else load time).
    * The casts and stamps are one projection over the indexed plan. */
  def applyModel(kept: DataFrame, model: Categorify.Model,
                 rawCopy: Seq[String], index: Seq[String],
                 eventTime: String = null): DataFrame = {
    val withRaw = kept.select(col("*") +: rawCopy.map(c => col(c).as(s"${c}_raw")): _*)
    val indexed = model.transform(withRaw)
    val now = current_timestamp()
    indexed.select(indexed.columns.toSeq.map(c =>
      if (index.contains(c)) col(c).cast("int").as(c) else col(c)) ++ Seq(
      now.as("created"),
      (if (eventTime == null) now else to_timestamp(col(eventTime))).as("datetime")): _*)
  }

  /** click==1 subset — the reference's `alicppretrieval` table (:171). */
  def retrievalSplit(gold: DataFrame, clickCol: String = "click"): DataFrame =
    gold.filter(col(clickCol) === 1)
}
