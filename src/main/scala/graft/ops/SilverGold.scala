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
    * clock at load; datetime = event time when present, else load time). */
  def applyModel(kept: DataFrame, model: Categorify.Model,
                 rawCopy: Seq[String], index: Seq[String],
                 eventTime: String = null): DataFrame = {
    val withRaw = rawCopy.foldLeft(kept)(
      (df, c) => df.withColumn(s"${c}_raw", col(c)))
    index.foldLeft(model.transform(withRaw))(
      (df, c) => df.withColumn(c, col(c).cast("int")))
      .withColumn("created", current_timestamp())
      .withColumn("datetime",
        if (eventTime == null) current_timestamp()
        else to_timestamp(col(eventTime)))
  }

  /** click==1 subset — the reference's `alicppretrieval` table (:171). */
  def retrievalSplit(gold: DataFrame, clickCol: String = "click"): DataFrame =
    gold.filter(col(clickCol) === 1)
}
