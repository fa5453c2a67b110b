package graft

import java.nio.file.{Files, Paths}

import graft.pipelines.{Clean, Populate}

/** Golden test of the end-to-end clean + populate pipelines over the
  * reference-shaped fixture (FIXTURES.md A1/A5), pinning the intended
  * semantics of reference bugs B1 (filename → job_position), B2 (casing)
  * and the F1 null filter. */
class CleanGoldenSpec extends SparkTestBase {

  private lazy val rawDir = {
    val dir = Files.createDirectories(
      Paths.get("target/tmp/graft_raw")).toString
    Files.writeString(
      Paths.get(s"$dir/glassdoor-job-scrapping02-09-2021-data-engineer-london.csv"),
      PipelineFixtures.RawCsv)
    dir
  }

  private lazy val clean = Clean.run(spark, rawDir).cache()

  // The session is suite-shared: release the fixture cache so the
  // no-pinned-cache invariant in SmokeSpec stays strict.
  override protected def afterAll(): Unit = {
    clean.unpersist()
    super.afterAll()
  }

  test("F1: null company_name rows are dropped") {
    assert(clean.count() == 3)
  }

  test("B1 intended: job_position derives from the file name") {
    assert(clean.select("job_position").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("data engineer"))
  }

  test("P1/P2/B2: rating extracted, name de-suffixed and title-cased") {
    val acme = clean.filter("company_name = 'Acme Corp'").collect()
    assert(acme.length == 1)
    assert(acme.head.getAs[String]("company_rating") == "4.5")
    val roles = clean.select("company_offered_role").distinct().collect()
      .map(_.getString(0)).toSet
    assert(roles == Set("Data Engineer", "Ml Engineer"))
  }

  test("P5: company size bounds") {
    val bounds = clean
      .select("company_name", "company_size_min", "company_size_max")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(bounds == Set(
      ("Acme Corp", 51, 200), ("Beta Ltd", 10000, 10000),
      ("Gamma Sas", 501, 1000)))
  }

  test("P6: salaries in USD/yr (golden FX values)") {
    val sal = clean
      .select("company_name", "min_estimated_salary", "max_estimated_salary")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(sal == Set(
      ("Acme Corp", 41667L, 55556L),   // £30000-£40000 / 0.72
      ("Beta Ltd", 52200L, 52200L),    // $25 * 8 * 261
      ("Gamma Sas", 1026L, 1538L)))    // COP 4M-6M / 3900
  }

  test("populate: top skills + uuid5 + pivot golden") {
    val pub = Populate.run(clean, PipelineFixtures.Skills).collect()
    assert(pub.length == 1)
    val row = pub.head
    assert(row.getAs[String]("job_id") ==
      "b6d8eec2-da41-59fb-9226-721ead4fde6e")
    // python/spark/sql all tie at 3 -> alphabetical tie-break (declared
    // (count DESC, token ASC) divergence from Counter insertion order).
    assert(row.getAs[String]("top_skill_n_1") == "python")
    assert(row.getAs[String]("top_skill_n_2") == "spark")
    assert(row.getAs[String]("top_skill_n_3") == "sql")
  }

  test("B7 flag: substring grouping counts rows into containing groups") {
    import spark.implicits._
    val mini = Seq(
      ("data engineer", "python spark"),
      ("senior data engineer", "python sql"))
      .toDF("job_position", "job_description")
    val skills = Seq("python", "spark", "sql")
    def countsOf(exact: Boolean): Map[(String, String), Long] =
      Populate.topSkills(mini, skills, exactMatch = exact).collect()
        .map(r => (r.getAs[String]("job_position"),
          r.getAs[String]("token")) -> r.getAs[Long]("cnt")).toMap
    val exact = countsOf(true)
    assert(exact(("data engineer", "python")) == 1L)
    assert(!exact.contains(("data engineer", "sql")))
    // populator.py:41-43: "senior data engineer" rows also feed the
    // "data engineer" group (its name is contained in theirs).
    val sub = countsOf(false)
    assert(sub(("data engineer", "python")) == 2L)
    assert(sub(("data engineer", "sql")) == 1L)
    assert(sub(("senior data engineer", "python")) == 1L)
    assert(!sub.contains(("senior data engineer", "spark")))
  }

  test("publish null-pads when fewer than k skills rank (try_element_at)") {
    val pub = Populate.run(clean, Seq("python", "spark")).collect()
    assert(pub.length == 1)
    val row = pub.head
    assert(row.getAs[String]("top_skill_n_1") == "python")
    assert(row.getAs[String]("top_skill_n_2") == "spark")
    (3 to 10).foreach(i => assert(row.getAs[String](s"top_skill_n_$i") == null))
  }

  test("serving: Q2 lookup of a 2-skill job returns exactly ranks 1 and 2") {
    // Null ranks are dropped, as the published KV row omits null fields.
    val pub = Populate.run(clean, Seq("python", "spark"))
    val ranks = Populate
      .lookupSkills(pub, "b6d8eec2-da41-59fb-9226-721ead4fde6e")
      .orderBy("rank").collect()
      .map(r => r.getAs[Int]("rank") -> r.getAs[String]("skill")).toSeq
    assert(ranks == Seq(1 -> "python", 2 -> "spark"))
  }

  test("serving: Q2 lookup unpacks ranked skills") {
    val pub = Populate.run(clean, PipelineFixtures.Skills)
    val skills = Populate
      .lookupSkills(pub, "b6d8eec2-da41-59fb-9226-721ead4fde6e")
      .orderBy("rank").collect().map(_.getAs[String]("skill"))
    assert(skills.take(3).toSeq == Seq("python", "spark", "sql"))
  }
}
