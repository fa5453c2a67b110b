package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.pipelines.{Clean, Populate}

/** End-to-end smoke of the reference-shaped pipelines (clean → populate →
  * serve) over generated raw-scraper fixture CSVs — runnable surface for
  * the pipeline layer that the oracle-checked catalog doesn't cover.
  *
  * Usage: runMain graft.PipelineSmoke [workDir]
  */
object PipelineSmoke {

  /** Reference skills.json `skills` vocabulary (subset) — `/root/reference/
    * skills.json:2`. */
  val Skills: Seq[String] = Seq(
    "python", "sql", "spark", "aws", "docker", "java", "scala", "etl",
    "airflow", "kafka")

  /** Raw CSV rows covering the clean-stage branches (FIXTURES.md A1):
    * rating suffix present/absent, null company_name (dropped), the three
    * company-size shapes, the three salary grammars incl. nbsp + commas. */
  val RawCsv: String = Seq(
    "company_name,company_rating,company_offered_role,company_role_location,job_description,requested_url,compensation_and_benefits,culture_and_values,career_opportunities,work_life_balance,job_type,industry,job_function,company_size,estimated_salary",
    "\"acme corp4.5★\",,data engineer,london,\"python sql spark etl python docker\",http://x/1,4.1,4.0,3.9,4.2,full-time,tech,ENGINEERING,51 to 200 Employees,\"£30000 - £40000 (Employer Est.)\"",
    "\"beta ltd\",,data engineer,paris,\"sql sql java kafka airflow\",http://x/2,3.1,3.0,2.9,3.2,full-time,tech,Engineering,10000+ Employees,\"$25 Per Hour\"",
    ",,data engineer,berlin,\"dropped row\",http://x/3,1.0,1.0,1.0,1.0,contract,tech,eng,,",
    "\"gamma sas\",,ml engineer,bogota,\"spark scala aws spark python\",http://x/4,4.5,4.4,4.3,4.6,full-time,tech,ML,501 to 1000 Employees,\"COP 4,000,000 - 6,000,000\"").
    mkString("\n")

  def main(args: Array[String]): Unit = {
    val work = if (args.nonEmpty) args(0) else "target/pipeline_smoke"
    val rawDir = s"$work/raw"
    Files.createDirectories(Paths.get(rawDir))
    Files.writeString(
      Paths.get(s"$rawDir/glassdoor-job-scrapping02-09-2021-data-engineer-london.csv"),
      RawCsv)

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val clean = Clean.run(spark, rawDir)
    println("=== clean table ===")
    clean.select("job_position", "company_name", "company_rating",
      "company_size_min", "company_size_max",
      "min_estimated_salary", "max_estimated_salary").show(false)

    val published = Populate.run(clean, Skills)
    println("=== published wide table ===")
    published.show(false)

    println("=== Q1 list jobs ===")
    Populate.listJobs(published).show(false)

    val jobId = graft.functions.Uuid5.uuid5Jvm("data engineer")
    println(s"=== Q2 lookup $jobId ===")
    Populate.lookupSkills(published, jobId).show(false)

    println("=== Q3 join ===")
    Populate.jobsWithSkills(Populate.listJobs(published), published).show(false)

    // S15 sink against the durable file-backed store: executor tasks
    // append to per-task logs, then the read-back goes through a FRESH
    // handle on the directory — the view a restarted serving JVM gets.
    val storeDir = s"$work/store"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storeDir))
    Populate.writeTo(published,
      new graft.sources.FileKvStore(storeDir).rowSink("job_id"))
    val back = graft.sources.FileKvStore.read(storeDir)
    println("=== store read-back (fresh handle) ===")
    back.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"$k -> ${v.take(100)}") }
    println(s"SINK_ROWS=${back.size}")
    spark.stop()
  }
}
