package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions._
import graft.functions.Uuid5.{uuid5, uuid5Jvm}
import graft.pipelines.Populate
import Catalog._

/** Serving-layer surface: the reference's populate + serve stages as
  * queries over the published top-skills rows. The ranking, pivot, Q2 and
  * Q3 are [[graft.pipelines.Populate]]'s own, run over `documents` with
  * each `source` as one job; this group adds the jobs dimension, the
  * output order and the oracle SQL.
  *
  *  - uuid5 surrogate keys (`/root/reference/data_populator/populator.py:53`)
  *  - array → `top_skill_n_1..10` wide pivot (`populator.py:55-57`, P8)
  *  - Q1 list-all (`rest_api/.../index.py:23-25`)
  *  - Q2 point lookup + positional unpack (`index.py:16-21`,
  *    `frontend/skills_interface.py:20-23`)
  *  - Q3 jobs ⋈ top_skills equi-join (`skills_interface.py:22` does this
  *    client-side by hand)
  *
  * The uuid5 oracle uses CPython-generated literal vectors (DuckDB 1.0 has
  * no sha1), which is exactly the right check anyway: the reference's keys
  * ARE Python uuid5 outputs, so matching literals proves key compatibility.
  *
  * Scale notes: the published dimension is one row per job (a few dozen);
  * every serving query is either a broadcast join or a point filter —
  * nothing here shuffles more than the flagship aggregation it consumes.
  */
object Serving extends QueryGroup {

  /** Python-uuid5 vectors for the source names (generated with CPython
    * `uuid.uuid5(uuid.NAMESPACE_DNS, name)`; also asserted in Uuid5Spec). */
  private val srcUuid: Seq[(String, String)] = Seq(
    ("src0", "aef2eeaa-cc2e-5614-9132-7b04a6fd0848"),
    ("src1", "40a02fab-a6d3-5e73-ab81-19a773a60e39"),
    ("src2", "c65e2eb9-3d8f-5e0e-bd98-0de3ec172cc5"),
    ("src3", "9663eb79-1532-50d6-9ff6-5b44fead6af9"),
    ("src4", "4d68c279-9a80-5336-8975-b642a20f36bd"),
    ("src5", "4be7f4e9-a392-59a6-9a5c-130455fe3306"),
    ("src6", "54a9e0e4-c520-5bc3-999f-e0dd02987a25"),
    ("src7", "69aac5bc-9adf-5e39-b952-792a220a1d44"),
    ("src8", "542e4fcf-6c5f-5cf5-a396-1648f1ed9168"),
    ("src9", "c30e1fd4-c0eb-5193-b0e7-c18597c4b233"),
    ("src10", "620414af-68a4-5a8f-b101-c66c84cb6e58"),
    ("src11", "187bff47-cd19-55ce-af20-14199f46cfca"),
    ("src12", "ac7495f2-565a-5e23-b2c8-f33288fb4754"),
    ("src13", "3ea3ed6a-1b79-558f-a3d1-d123594fbbe1"),
    ("src14", "0064f35f-570c-545d-adf7-1c0fc5fa80ba"),
    ("src15", "f54fd718-22fc-5412-8d32-7663ba214c7e"),
    ("src16", "053a63cb-453e-505c-87f7-cd863b53bcb7"),
    ("src17", "6ad83bbb-6023-58fc-ac78-e672c699f795"),
    ("src18", "724bc659-6386-5bd7-94e1-63a201560418"),
    ("src19", "d0683172-5555-5e71-9edf-079d4a31c8f4"))

  private val nationUuid: Seq[(String, String)] = Seq(
    ("NATION_0", "eca51a0d-3ccf-5412-ad05-6f18cce37151"),
    ("NATION_1", "fb64fdf1-8117-5655-b63f-5924c22d9909"),
    ("NATION_2", "08ae2c1e-da8e-5996-83e5-12499e500f23"),
    ("NATION_3", "187d4d60-fa1b-5a66-af61-0b26ba5503e8"),
    ("NATION_4", "942ecb3b-87b0-547e-af5b-f53c39739cc1"),
    ("NATION_5", "2aa6005f-35d9-5d53-b154-29c425182de5"),
    ("NATION_6", "fc111dfb-2d36-5862-8c5d-1a85090b677c"),
    ("NATION_7", "6e30cff6-caa1-5ae8-8241-7f2562f9f2fb"),
    ("NATION_8", "11a8551b-326c-5174-a512-83ddc3dcb9c6"),
    ("NATION_9", "bd214624-651e-5f46-b9ef-62230a7e1690"),
    ("NATION_10", "bd55af78-598f-5e1a-8b76-dd42143ba89f"),
    ("NATION_11", "4d3488b4-4c44-5305-b714-2e54f2fe0397"),
    ("NATION_12", "bcda4f32-f7b4-5145-b210-c81d8886d7b5"),
    ("NATION_13", "95273278-1d57-572c-a8bc-da8c81365e09"),
    ("NATION_14", "231b372e-949d-5550-bbe3-cc9716436f9d"),
    ("NATION_15", "a070391b-43ac-52bf-b945-8a71cf3316e8"),
    ("NATION_16", "b6bf5532-af85-512c-a4fc-d2138d6722e2"),
    ("NATION_17", "e136b322-6d08-549e-acea-b37278cd1a2c"),
    ("NATION_18", "7a93bc64-0e22-55ce-ad16-1e3e83161859"),
    ("NATION_19", "bb9d566f-f040-5164-9c36-56350a96e2f0"),
    ("NATION_20", "d0a0e6a8-1813-56fa-8826-60db4ae16ffb"),
    ("NATION_21", "99f02306-b641-538b-a9be-7997b33a7034"),
    ("NATION_22", "49f08618-bc73-5aba-8a11-c8dd092a0758"),
    ("NATION_23", "c1ebfb67-5f6a-54ae-92c9-813868b597da"),
    ("NATION_24", "42c9a6a5-5507-5607-be51-913616e8fb57"))

  private def uuidValuesSql(vs: Seq[(String, String)]): String =
    vs.map { case (n, u) => s"('$n', '$u')" }.mkString("(VALUES ", ", ", ")")

  /** uuid5 over every nation name — pins the expression against the
    * CPython-generated vectors for 25 distinct inputs. */
  private def uuid5Keys(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, d)
      .select($"n_name", uuid5($"n_name").as("job_id"))
      .orderBy($"n_name")
  }

  /** The published wide rows, one per source: [[Populate.publish]] over the
    * flagship's ranking ([[TextAnalysis.rankedSources]]). */
  private def wide(s: SparkSession, d: String): DataFrame =
    Populate.publish(TextAnalysis.rankedSources(s, d))

  /** The `(job_id, job)` jobs dimension: every source of `documents`. */
  private def jobs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"source").distinct()
      .select(uuid5($"source").as("job_id"), $"source".as("job"))
  }

  /** Q1: list-all jobs dimension. */
  private def servingJobs(s: SparkSession, d: String): DataFrame =
    jobs(s, d).orderBy("job")

  /** P8: the published wide pivot itself. */
  private def servingPivot(s: SparkSession, d: String): DataFrame =
    wide(s, d).orderBy("job")

  /** Q2: point lookup of `src7` by surrogate key, unpacked to ranks. */
  private def servingLookup(s: SparkSession, d: String): DataFrame =
    Populate.lookupSkills(wide(s, d), uuid5Jvm("src7")).orderBy("rank")

  /** Q3: jobs ⋈ top_skills — the join the reference does client-side. */
  private def servingJoin(s: SparkSession, d: String): DataFrame =
    Populate.jobsWithSkills(jobs(s, d), wide(s, d))
      .select("job", "job_id", "top_skill_n_1", "top_skill_n_2",
        "top_skill_n_3")
      .orderBy("job")

  /** The same uuid5 keys through the SQL registry surface
    * ([[graft.functions.GraftFunctions]]) — `spark.sql` callers get the
    * byte-exact keys by name. */
  private def uuid5Sql(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.nation(s, d).createOrReplaceTempView("nation_v")
    s.sql(
      """SELECT n_name, uuid5(n_name) AS job_id
        |FROM nation_v ORDER BY n_name""".stripMargin)
  }

  val queries: Map[String, Q] = Map(
    "q_uuid5_keys" -> uuid5Keys,
    "q_uuid5_sql_registry" -> uuid5Sql,
    "q_serving_jobs" -> servingJobs,
    "q_serving_pivot" -> servingPivot,
    "q_serving_lookup" -> servingLookup,
    "q_serving_join" -> servingJoin,
  )

  /** DuckDB CTE producing (source, ordered top-10 token list). */
  private val rankedListCte =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(lower(text), ' ')) AS token
       |  FROM documents
       |), cnt AS (
       |  SELECT source, token, COUNT(*) AS cnt FROM tok
       |  WHERE token IN ${SkillsDict.map(x => s"'$x'").mkString("(", ", ", ")")}
       |  GROUP BY source, token
       |), ranked AS (
       |  SELECT source, (list(token ORDER BY cnt DESC, token))[1:10] AS ts
       |  FROM cnt GROUP BY source
       |)""".stripMargin

  private val wideSelectSql =
    (1 to 10).map(i => s"ts[$i] AS top_skill_n_$i").mkString(",\n  ")

  val oracle: Map[String, String] = Map(
    "q_uuid5_sql_registry" ->
      s"""SELECT n_name, job_id
         |FROM nation JOIN ${uuidValuesSql(nationUuid)} v(name, job_id)
         |  ON n_name = v.name
         |ORDER BY n_name""".stripMargin,
    "q_uuid5_keys" ->
      s"""SELECT n_name, job_id
         |FROM nation JOIN ${uuidValuesSql(nationUuid)} v(name, job_id)
         |  ON n_name = v.name
         |ORDER BY n_name""".stripMargin,
    "q_serving_jobs" ->
      s"""SELECT job_id, job FROM (SELECT DISTINCT source AS job FROM documents) d
         |JOIN ${uuidValuesSql(srcUuid)} v(job2, job_id) ON d.job = v.job2
         |ORDER BY job""".stripMargin,
    "q_serving_pivot" ->
      s"""$rankedListCte
         |SELECT v.job_id, r.source AS job,
         |  $wideSelectSql
         |FROM ranked r JOIN ${uuidValuesSql(srcUuid)} v(name, job_id)
         |  ON r.source = v.name
         |ORDER BY job""".stripMargin,
    "q_serving_lookup" ->
      s"""$rankedListCte
         |SELECT '69aac5bc-9adf-5e39-b952-792a220a1d44' AS job_id,
         |  CAST(i AS INT) AS rank, ts[i] AS skill
         |FROM ranked, (SELECT unnest(range(1, 11)) i) ii
         |WHERE source = 'src7' AND ts[i] IS NOT NULL
         |ORDER BY rank""".stripMargin,
    "q_serving_join" ->
      s"""$rankedListCte
         |SELECT r.source AS job, v.job_id,
         |  ts[1] AS top_skill_n_1, ts[2] AS top_skill_n_2,
         |  ts[3] AS top_skill_n_3
         |FROM ranked r JOIN ${uuidValuesSql(srcUuid)} v(name, job_id)
         |  ON r.source = v.name
         |ORDER BY job""".stripMargin,
  )
}
