package graft

/** The reference-shaped pipeline fixture shared by the clean, populate,
  * serving, observe and plan-audit specs. */
object PipelineFixtures {

  /** The reference's skills.json `skills` vocabulary (subset). */
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
}
