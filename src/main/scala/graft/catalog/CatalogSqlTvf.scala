package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog.Q
import graft.util.Tables

/** Oracle-checked catalog entries, round-8: the SQL table-valued-
  * function surface ([[graft.sql.TableFunctions]]) driven end-to-end
  * through `spark.sql` — proving a SQL-first user gets the table-level
  * operators (here sessionize) with the identical results the Scala
  * API produces (q17's oracle is reused verbatim: same math, new entry
  * point).
  */
object CatalogSqlTvf {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Sessionization invoked as `SELECT ... FROM graft_sessions(...)`.
    * The imperative register() keeps the query runnable on a session
    * built without the extensions; a GraftSession already has the TVFs
    * at build (GraftExtensionsSpec pins that path, TableFunctionsSpec
    * the imperative one). Registration is idempotent
    * (createOrReplaceTempFunction). */
  private val q284 = Q("q284_sql_tvf_sessions",
    (s, dir) => {
      graft.sql.TableFunctions.register(s)
      t(s, dir, "events").createOrReplaceTempView("events_tvf")
      // total_duration_sec snap-divided from the exact µs sum (q17's
      // sf1-skew fix): integer half-up at 2 dp, one division, no round
      // over a float sum.
      s.sql("""SELECT user_id, count(*) AS n_sessions,
              |  max(n_events) AS max_session_events,
              |  cast(floor((sum(duration_us) + 5000) / 10000) as double) / 100
              |    AS total_duration_sec,
              |  round(sum(total_value), 4) AS total_value
              |FROM graft_sessions('events_tvf', 'ts', 'user_id',
              |                    'value', 1800)
              |GROUP BY user_id ORDER BY user_id""".stripMargin)
    },
    Some("""WITH x AS (
           |  SELECT user_id, ts, value,
           |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
           |              THEN 1 ELSE 0 END AS is_new
           |  FROM events WHERE ts IS NOT NULL
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |y AS (SELECT user_id, ts, value,
           |        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           |      FROM x),
           |s AS (SELECT user_id, sess, count(*) AS n_events,
           |        epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
           |        round(sum(value), 4) AS val
           |      FROM y GROUP BY 1, 2)
           |SELECT user_id, count(*)::BIGINT AS n_sessions,
           |       max(n_events)::BIGINT AS max_session_events,
           |       floor((sum(dur_us) + 5000) / 10000) / 100.0 AS total_duration_sec,
           |       round(sum(val), 4) AS total_value
           |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin))

  val all: Seq[Q] = Seq(q284)
}
