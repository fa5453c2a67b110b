package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Uuid5.uuid5

/** The reference's populate stage
  * (`/root/reference/data_populator/populator.py:39-58`) as one lazy plan,
  * and the only implementation of it: the daily pipeline, the catalog's
  * flagship and `q_serving_*` rows, and the streaming sink all call this
  * object.
  *
  *  - A2+A3 [[rank]]: dictionary token counts per job, top [[TopK]] by the
  *    declared tie-break `(cnt DESC, token ASC)` (SURVEY.md §7.3).
  *  - P7+P8 [[publish]]: uuid5 surrogate key plus the `top_skill_n_1..10`
  *    wide pivot, null-padded when fewer than [[TopK]] skills rank.
  *  - Q2/Q3 [[lookupSkills]] / [[jobsWithSkills]] over the published rows;
  *    Q2 drops null ranks, as the published KV row omits null fields.
  *  - S15 [[writeTo]]: one complete upsert per published row through a
  *    pluggable [[RowSink]] (B4's 10x write amplification is not
  *    reproduced), so the DynamoDB-style store needs no connector.
  *
  * Scale: one shuffle for the (job, token) count, one for the per-job
  * window (each partition <= |dictionary| rows after aggregation); the
  * dictionary is broadcast.
  */
object Populate {

  /** Skills kept per job (`populator.py:45`, `Counter.most_common(10)`). */
  val TopK = 10

  /** A2+A3 ranking core over `(job, token)` rows: broadcast dictionary
    * semi-join → count per (job, token) → `row_number` by
    * `(cnt DESC, token)` → top [[TopK]]. Returns `(job, token, cnt, rnk)`.
    * The caller tokenizes. The job key is the first column, under the
    * caller's name (the pipeline's `job_position`, the catalog's `source`):
    * renaming it would add a Project under the flagship's first exchange. */
  def rank(jobTokens: DataFrame, skills: Seq[String]): DataFrame = {
    val spark = jobTokens.sparkSession
    import spark.implicits._
    val job = col(jobTokens.columns.head)
    jobTokens
      .join(broadcast(skills.toDF("skill")), $"token" === $"skill", "left_semi")
      .groupBy(job, $"token")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(job).orderBy($"cnt".desc, $"token")))
      .filter($"rnk" <= TopK)
  }

  /** [[rank]] over the clean table, tokenized as `populator.py:44` does
    * (`job_description.lower().split()`).
    *
    * `exactMatch = true` (default) groups rows by their own
    * `job_position` — SURVEY §0.2 B7's intended semantics. The reference
    * (`populator.py:41-43`, `jobs.job_position.str.contains(job)`) counts
    * a row in EVERY group whose name its position contains — "senior data
    * engineer" rows also feed the "data engineer" group; pass
    * `exactMatch = false` for that behavior. Scale: the group list is the
    * distinct-position dim (small), broadcast into a nested-loop on the
    * substring predicate — work bounded by |groups| x token rows. */
  def topSkills(clean: DataFrame, skills: Seq[String],
      exactMatch: Boolean = true): DataFrame = {
    val spark = clean.sparkSession
    import spark.implicits._
    val tokens = clean.select($"job_position",
      explode(split(lower($"job_description"), "\\s+")).as("token"))
    val grouped =
      if (exactMatch) tokens
      else tokens
        .withColumnRenamed("job_position", "row_position")
        .join(broadcast(clean.select($"job_position").distinct()),
          $"row_position".contains($"job_position"))
        .select($"job_position", $"token")
    rank(grouped, skills)
  }

  /** P7+P8: [[rank]]'s rows → one wide row per job,
    * `(job_id, job, top_skill_n_1..10)`. `try_element_at` null-pads a job
    * with fewer than [[TopK]] ranked skills (strict `element_at` throws
    * under ANSI-default Spark 4). */
  def publish(ranked: DataFrame): DataFrame = {
    val spark = ranked.sparkSession
    import spark.implicits._
    val job = col(ranked.columns.head)
    val arr = ranked
      .groupBy(job)
      .agg(array_sort(collect_list(struct($"rnk", $"token"))).as("rs"))
      .select(job, transform($"rs", r => r.getField("token")).as("ts"))
    arr.select(
      (uuid5(job).as("job_id") +:
        job.as("job") +:
        (1 to TopK).map(i => try_element_at($"ts", lit(i)).as(s"top_skill_n_$i"))): _*)
  }

  /** S15: pluggable sink boundary (the DynamoDB writer of `populator.py:47-58`
    * without the per-skill rewrite loop — bug B4's intended semantics is a
    * single complete upsert per job row). Implementations must be
    * idempotent on key: a retried task or micro-batch puts the same rows
    * again. */
  trait RowSink extends Serializable {
    def put(row: Map[String, String]): Unit
  }

  /** Puts every row into `sink` from the executors, as `column -> value`
    * strings; null fields are omitted. */
  def writeTo(published: DataFrame, sink: RowSink): Unit = {
    val cols = published.columns
    published.foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          sink.put(cols.zipWithIndex.collect {
            case (c, i) if !r.isNullAt(i) => c -> r.get(i).toString
          }.toMap)
        }
    }
  }

  /** Q1: the jobs dimension of the published table. */
  def listJobs(published: DataFrame): DataFrame =
    published.select("job_id", "job").orderBy("job")

  /** Q2: point lookup by surrogate key, unpacked to `(job_id, rank, skill)`
    * with null ranks dropped. */
  def lookupSkills(published: DataFrame, jobId: String): DataFrame = {
    val spark = published.sparkSession
    import spark.implicits._
    published.filter($"job_id" === jobId)
      .select($"job_id", posexplode(
        array((1 to TopK).map(i => col(s"top_skill_n_$i")): _*)))
      .toDF("job_id", "pos", "skill")
      .filter($"skill".isNotNull)
      .select($"job_id", ($"pos" + 1).as("rank"), $"skill")
  }

  /** Q3: a `(job_id, job)` jobs dimension ⋈ the published rows on
    * `job_id` — the join the reference's frontend does client-side
    * (`skills_interface.py:22`). */
  def jobsWithSkills(jobs: DataFrame, published: DataFrame): DataFrame =
    jobs.join(published.drop("job"), Seq("job_id"))

  /** Full pipeline: clean table → published wide table. */
  def run(clean: DataFrame, skills: Seq[String]): DataFrame =
    publish(topSkills(clean, skills))
}
