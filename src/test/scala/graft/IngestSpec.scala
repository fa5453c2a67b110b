package graft

import graft.sources.HttpIngest
import graft.sources.HttpIngest._

/** Canned-HTML tests for the scraper-shaped ingest source (FIXTURES.md A6):
  * bounds probe, listing-link + salary extraction, detail parse with
  * N/A/Unknown sentinels and the short-description fallback, retry
  * envelope, and the distributed mapPartitions scrape end-to-end. */
class IngestSpec extends SparkTestBase {

  private val resultPage =
    """<html><body>
      |<p>2 Jobs</p><p>Page 1 of 1</p>
      |<a href="/partner/jobListing.htm?id=1">A</a>
      |<span data-test="detailSalary">£30000 - £40000 (Employer Est.)</span>
      |<a href="/partner/jobListing.htm?id=2">B</a>
      |<span data-test="detailSalary">$25 Per Hour</span>
      |<a href="/partner/jobListing.htm?id=1">A again</a>
      |</body></html>""".stripMargin

  private val detail1 =
    """<html><body>
      |<span data-test="employerName">acme corp</span>
      |<span data-test="rating">4.5</span>
      |<span data-test="jobTitle">data engineer</span>
      |<span data-test="location">london</span>
      |<div class="JobDescriptionContainer">
      |<li>build python etl</li><li>own spark jobs</li>
      |</div>
      |<span>Job Type</span> <span>full-time</span>
      |<span>Size</span> <span>51 to 200 Employees</span>
      |<span>Industry</span> <span>N/A</span>
      |</body></html>""".stripMargin

  private val detail2 =
    """<html><body>
      |<span data-test="employerName">beta ltd</span>
      |<span data-test="jobTitle">ml engineer</span>
      |<span data-test="location">paris</span>
      |<li>x</li>
      |<div class="JobDescriptionContainer">full text fallback body</div>
      |<span>Size</span> <span>Unknown</span>
      |</body></html>""".stripMargin

  private val fetcher = new MapFetcher(Map(
    "http://t/Search.htm" -> resultPage,
    "/partner/jobListing.htm?id=1" -> detail1,
    "/partner/jobListing.htm?id=2" -> detail2))

  test("S8: bounds probe parses job and page counts") {
    assert(parseBounds(resultPage) == ((2, 1)))
    assert(parseBounds("<p>1,234 Jobs</p><p>Page 1 of 42</p>") == ((1234, 42)))
  }

  test("S7: listing links extracted, deduped downstream, salaries zipped") {
    val links = parseListingLinks(resultPage)
    assert(links.map(_._1) ==
      Seq("/partner/jobListing.htm?id=1", "/partner/jobListing.htm?id=2"))
    assert(links.head._2.contains("£30000 - £40000 (Employer Est.)"))
  }

  test("S7: salary pairing survives salary-less cards and early duplicates") {
    // Card 1 has a salary, then its link repeats (no salary), card 2 has a
    // salary, card 3 has NONE, card 4 has one. A positional zip against
    // deduped hrefs would hand card 4's salary to card 3.
    val page =
      """<a href="/partner/jobListing.htm?id=1">A</a>
        |<span data-test="detailSalary">£10</span>
        |<a href="/partner/jobListing.htm?id=1">A dup</a>
        |<a href="/partner/jobListing.htm?id=2">B</a>
        |<span data-test="detailSalary">£20</span>
        |<a href="/partner/jobListing.htm?id=3">C</a>
        |<a href="/partner/jobListing.htm?id=4">D</a>
        |<span data-test="detailSalary">£40</span>""".stripMargin
    val links = parseListingLinks(page)
    assert(links == Seq(
      ("/partner/jobListing.htm?id=1", Some("£10")),
      ("/partner/jobListing.htm?id=2", Some("£20")),
      ("/partner/jobListing.htm?id=3", None),
      ("/partner/jobListing.htm?id=4", Some("£40"))))
  }

  test("S9: detail parse — banner, li-joined description, sentinels") {
    val l = parseListing("u1", detail1, Some("£30000"))
    assert(l.company_name.contains("acme corp"))
    assert(l.company_rating.contains(4.5))
    assert(l.job_description.contains("build python etl own spark jobs"))
    assert(l.job_type.contains("full-time"))
    assert(l.company_size.contains("51 to 200 Employees"))
    assert(l.industry.isEmpty) // "N/A" sentinel -> null
  }

  test("S9: short li description falls back to container text") {
    val l = parseListing("u2", detail2, None)
    assert(l.job_description.contains("full text fallback body"))
    assert(l.company_size.isEmpty) // "Unknown" sentinel -> null
    assert(l.company_rating.isEmpty)
  }

  test("retry envelope: flaky fetcher succeeds within maxRetries") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new Fetcher {
      def fetchOnce(url: String): FetchResult =
        if (calls.incrementAndGet() < 3) FetchResult.Transient
        else FetchResult.Ok("<html>ok</html>")
    }
    assert(flaky.fetch("x").contains("<html>ok</html>"))
    assert(calls.get() == 3)
  }

  test("permanent failure (404) consumes exactly one attempt") {
    // A 404-heavy frontier must not stall executor tasks for the full
    // 10 x backoff envelope per dead URL — only transient failures retry.
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val dead = new Fetcher {
      def fetchOnce(url: String): FetchResult = {
        calls.incrementAndGet(); FetchResult.Permanent
      }
    }
    assert(dead.fetch("x").isEmpty)
    assert(calls.get() == 1)
    val transient = new Fetcher {
      def fetchOnce(url: String): FetchResult = {
        calls.incrementAndGet(); FetchResult.Transient
      }
    }
    calls.set(0)
    assert(transient.fetch("x").isEmpty)
    assert(calls.get() == 10) // full envelope, transient only
  }

  test("S7: card containers pair salary in BOTH orderings (page.py:45)") {
    // The reference searches the anchor's whole parent card — the salary
    // span may PRECEDE the link. With <li> card boundaries present, each
    // anchor pairs within its enclosing card, either side.
    val page =
      """<ul>
        |<li class="react-job-listing">
        |<span data-test="detailSalary">£10</span>
        |<a href="/partner/jobListing.htm?id=1">salary before link</a>
        |</li>
        |<li class="react-job-listing">
        |<a href="/partner/jobListing.htm?id=2">salary after link</a>
        |<span data-test="detailSalary">£20</span>
        |</li>
        |<li class="react-job-listing">
        |<a href="/partner/jobListing.htm?id=3">no salary</a>
        |</li>
        |</ul>""".stripMargin
    assert(parseListingLinks(page) == Seq(
      ("/partner/jobListing.htm?id=1", Some("£10")),
      ("/partner/jobListing.htm?id=2", Some("£20")),
      ("/partner/jobListing.htm?id=3", None)))
  }

  test("end-to-end distributed scrape over canned pages") {
    val rows = HttpIngest.scrape(spark,
      Seq(ScrapeTask("data engineer", "london", "http://t/Search.htm")),
      fetcher).collect()
    assert(rows.length == 2) // the duplicate link was deduped pre-fetch
    val byName = rows.flatMap(_.company_name).sorted.toSeq
    assert(byName == Seq("acme corp", "beta ltd"))
    assert(rows.flatMap(_.estimated_salary).toSet ==
      Set("£30000 - £40000 (Employer Est.)", "$25 Per Hour"))
  }

  /** `n` canned (term, location) tasks, each with its own listings over
    * two result pages; task i has i + 2 listings, and every detail URL
    * names its task as `src=s<i>`, like the daily run's corpus. */
  private def corpus(n: Int): (Seq[ScrapeTask], Fetcher) = {
    val pages = (0 until n).flatMap { i =>
      val base = s"http://t/S$i.htm"
      val links = (0 until i + 2).map(j => s"/partner/jobListing.htm?src=s$i&jl=$j")
      def resultPage(p: Int, ls: Seq[String]): String =
        s"<p>${links.size} Jobs</p><p>Page $p of 2</p>" + ls.map(l =>
          s"""<li><a href="$l">x</a><span data-test="detailSalary">£$i</span></li>"""
        ).mkString
      val (first, second) = links.splitAt(links.size / 2)
      Seq(base -> resultPage(1, first), pageUrl(base, 2) -> resultPage(2, second)) ++
        links.map(l => l ->
          s"""<span data-test="employerName">c$i</span><li>description of $l</li>""")
    }.toMap
    ((0 until n).map(i => ScrapeTask(s"term$i", s"loc$i", s"http://t/S$i.htm")),
      new MapFetcher(pages))
  }

  test("multi-task scrape: one partition per slot, a contiguous slice each") {
    val (tasks, f) = corpus(7)
    assert(spark.sparkContext.defaultParallelism == 4)
    for ((n, parts) <- Seq(0 -> 1, 1 -> 1, 2 -> 2, 7 -> 4))
      assert(HttpIngest.scrape(spark, tasks.take(n), f).rdd.getNumPartitions == parts,
        s"$n tasks")
    val placed = HttpIngest.scrape(spark, tasks, f).rdd
      .mapPartitionsWithIndex((p, it) => it.map(l => (l, p))).collect().toSeq
    val partOf = placed
      .groupBy(_._1.requested_url.get.split("src=s")(1).takeWhile(_ != '&').toInt)
      .map { case (i, ps) =>
        assert(ps.map(_._2).distinct.length == 1, s"task $i spans partitions")
        i -> ps.head._2
      }
    assert(partOf.keys.toSeq.sorted == (0 until 7))
    assert((0 until 7).map(partOf) == (0 until 7).map(partOf).sorted) // contiguous
    val together = placed.map(_._1)
    val alone = tasks.flatMap(t => HttpIngest.scrape(spark, Seq(t), f).collect())
    assert(together.size == (0 until 7).map(_ + 2).sum)
    assert(together.groupBy(identity).view.mapValues(_.size).toMap ==
      alone.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("hand-off: partitionBy(src) writes one part file per (term, location) " +
      "in 1 job of min(tasks, slots) tasks") {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val (tasks, f) = corpus(7)
    val tmp = java.nio.file.Files.createTempDirectory("ingest-handoff").toFile
    try {
      val out = new java.io.File(tmp, "raw")
      val (_, jobs, taskRuns) = countJobsAndTasks {
        HttpIngest.scrape(spark, tasks, f).toDF()
          .withColumn("__src", regexp_extract(col("requested_url"), "src=([^&]+)", 1))
          .write.partitionBy("__src").option("header", "true").csv(out.getPath)
      }
      assert((jobs, taskRuns) == ((1, 4)))
      val dirs = out.listFiles().filter(_.getName.startsWith("__src=")).sortBy(_.getName)
      assert(dirs.map(_.getName).toSeq == (0 until 7).map(i => s"__src=s$i"))
      dirs.zipWithIndex.foreach { case (d, i) =>
        val parts = d.listFiles().filter(_.getName.endsWith(".csv"))
        assert(parts.length == 1, d.getName)
        // header + one line per listing of task i
        assert(java.nio.file.Files.readAllLines(parts.head.toPath).size == i + 3,
          d.getName)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("pageUrl rewrite (main.py:49-58 semantics)") {
    assert(pageUrl("http://t/S.htm", 1) == "http://t/S.htm")
    assert(pageUrl("http://t/S.htm", 3) == "http://t/S_IP3.htm")
  }
}
