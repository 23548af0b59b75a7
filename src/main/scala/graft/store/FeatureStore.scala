package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.PointInTime

/** Feature-store query surface — the reference's Feast layer re-expressed
  * relationally (/root/reference/feast-feature-store/): feature views keyed
  * by entity with a TTL (user_features.py:8-28), an offline
  * point-in-time retrieval (`get_historical_features`, get_fv.py:32-47)
  * and an online latest-value-per-key store with point lookups
  * (get_fv.py:25-28, ingest_stream_to_online_store.py:48-82).
  *
  * Scale posture: the online table is entity-sized (one row per key), so
  * lookups are broadcast-joinable; historical retrieval is the TTL-bounded
  * as-of join (PointInTime.asofJoin) whose fan-out is bounded by per-key
  * density inside the TTL window, not total history.
  */
object FeatureStore {

  /** Feature view metadata: a named projection of a source table, keyed by
    * entity columns, with an event-time column and a TTL bound. */
  case class FeatureView(name: String, entities: Seq[String], eventTime: String,
                         ttlUs: Long, features: Seq[String]) {
    def project(source: DataFrame): DataFrame =
      source.select((entities ++ Seq(eventTime) ++ features).map(col): _*)
  }

  /** Offline -> online materialization: collapse history to the newest row
    * per entity key (by event time, tie-broken deterministically) and
    * publish it through [[OnlineTable.publish]] as one snapshot
    * hash-bucketed by the view's entity columns (one commit-log entry —
    * readers never see a half-written table). Streaming ingest upserts
    * into the same layout via Streams.upsertOnline. */
  def materializeOnline(view: FeatureView, source: DataFrame,
                        path: String, tieBreak: String = null): Unit = {
    val tb = Option(tieBreak).getOrElse(view.eventTime)
    OnlineTable.publish(
      PointInTime.latestPerKey(view.project(source), view.entities,
        view.eventTime, tb),
      path, view.entities)
  }

  /** Online point lookup: entity keys -> latest feature row. The requested
    * key set is small by construction (a serving batch), so it broadcasts —
    * the online table is never shuffled. A local key set is routed to its
    * buckets on the driver, so only the bucket dirs its keys hash into are
    * scanned at all ([[OnlineTable.lookup]]); any other key set joins
    * against every bucket. The manifest carries the snapshot's schema, so
    * building the lookup runs no Spark job. */
  def getOnlineFeatures(spark: SparkSession, path: String,
                        view: FeatureView, keys: DataFrame): DataFrame =
    OnlineTable.lookup(spark, path, view.entities, keys)
      .getOrElse(throw new IllegalStateException(
        s"online table at $path has never been published"))

  /** Offline point-in-time retrieval: for each entity row (key, ts) attach
    * the newest feature row with eventTime <= ts within the view's TTL —
    * Feast get_historical_features semantics (TTL: user_features.py:11). */
  def getHistoricalFeatures(entityRows: DataFrame, view: FeatureView,
                            source: DataFrame, entityTs: String,
                            tieBreak: String = null): DataFrame =
    PointInTime.asofJoin(entityRows, view.project(source), view.entities,
      entityTs, view.eventTime, view.ttlUs, strict = false,
      rightTieBreak = Option(tieBreak).getOrElse(view.eventTime))
}
