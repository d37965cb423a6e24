package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** k8stream semantic operators (SURVEY.md §2.1) exercised as
  * oracle-checked queries over the driver's `events` table — the same
  * F (filter) / D (dedup) / E (enrich) / P (project) / W (window) shapes
  * the [[graft.k8s.EventPipeline]] applies to Kubernetes records, played
  * against testdata so the driver can hash-check them. The
  * Kubernetes-shaped golden tests live in the ScalaTest specs.
  */
object K8sQueries {

  def all: Seq[Q] = Seq(

    // F2+F3 blacklist/whitelist eligibility (handler.go isEligible shape).
    Q("k8s_eligible",
      """SELECT event_id, user_id, event_type
        |FROM events
        |WHERE event_type NOT IN ('error')
        |  AND event_type IN ('click', 'purchase', 'signup', 'view')
        |ORDER BY event_id""") { (s, d) =>
      Tables.events(s, d)
        .filter(!col("event_type").isin("error") &&
          col("event_type").isin("click", "purchase", "signup", "view"))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    },

    // E1/P1: dimension left-lookup join + flat projection with JSON field
    // extraction — the makeL9Event shape (event.go:49-77): every record
    // preserved, misses enriched with defaults.
    Q("k8s_enrich_project",
      """SELECT event_id AS id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS timestamp,
        |  event_type AS component,
        |  coalesce(c_name, '') AS host,
        |  coalesce(c_mktsegment, 'UNKNOWN') AS namespace,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS reference_version,
        |  round(value, 4) AS value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |ORDER BY id""") { (s, d) =>
      Tables.events(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("user_id") === col("c_custkey"), "left_outer")
        .select(col("event_id").as("id"),
          unix_timestamp(col("ts")).as("timestamp"),
          col("event_type").as("component"),
          coalesce(col("c_name"), lit("")).as("host"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("namespace"),
          get_json_object(col("props"), "$.k").cast("bigint").as("reference_version"),
          round(col("value"), 4).as("value"))
        .orderBy(col("id"))
    },

    // D1: first-arrival dedup per logical key (handler.go:142-151 — the
    // batch-deterministic form keeps the earliest record).
    Q("k8s_dedup_first",
      """SELECT user_id, event_type,
        |  CAST(min(event_id) AS BIGINT) AS first_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS first_ts
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_id"),
          unix_timestamp(min(col("ts"))).as("first_ts"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // D2: versioned dedup — keep only the newest version per key
    // (handler.go:95-115; event_id stands in for resourceVersion).
    Q("k8s_dedup_versioned",
      """SELECT user_id, event_type,
        |  CAST(max(event_id) AS BIGINT) AS last_id,
        |  round(arg_max("value", event_id), 4) AS last_value
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""") { (s, d) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("event_id").desc)
      Tables.events(s, d)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("last_id"),
          round(col("value"), 4).as("last_value"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // W1 count-cap batching: deterministic chunk assignment — ordered
    // rows per key split into chunks of ≤100 (io/batch.go count half;
    // chunk sizes {100, ..., remainder} mirror the {5,5,4} law).
    Q("k8s_batch_chunks",
      """SELECT user_id, chunk,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(event_id) AS BIGINT) AS first_id,
        |  CAST(max(event_id) AS BIGINT) AS last_id
        |FROM (
        |  SELECT user_id, event_id,
        |    CAST((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)
        |         // 100 AS INT) AS chunk
        |  FROM events)
        |GROUP BY user_id, chunk
        |ORDER BY user_id, chunk""") { (s, d) =>
      Tables.events(s, d)
        .withColumn("chunk", expr("CAST((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) div 100 AS INT)"))
        .groupBy(col("user_id"), col("chunk"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("first_id"),
          max(col("event_id")).as("last_id"))
        .orderBy(col("user_id"), col("chunk"))
    })
}
