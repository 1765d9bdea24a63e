package graft.perfbench

import java.nio.file.{Files, Paths}

/** The query members' expected digests.
  *
  * [[write]] runs each member twice in one session, requires the same
  * digest both times and writes `<bench-dir>/expected.json`.
  * [[check]] digests the result files `graft.Verify` wrote for the
  * members and compares them with that file; `oracle_check.py` runs it
  * after comparing the same files with the DuckDB oracle.
  */
object Expect {
  def members: Seq[String] = (Main.BatchMembers ++ Main.StreamMembers).sorted

  def write(a: Main.Args): Unit = {
    val spark = Main.session()
    try {
      val digests = members.map { m =>
        val runs = (1 to 2).map { _ =>
          val d = Digest.of(graft.SparkEntry.queries(m)(spark, a.sfDir))
          Workload.dropCaches(spark)
          d.show
        }
        require(runs.distinct.length == 1, s"$m is not deterministic: ${runs.mkString(" vs ")}")
        System.err.println(s"[expect] $m ${runs.head}")
        m -> runs.head
      }
      val body = digests.map { case (m, d) => s"""    "$m": "$d"""" }.mkString(",\n")
      Files.writeString(Paths.get(a.benchDir, "expected.json"),
        s"""{\n  "fixture_sha": "${Main.fixtureSha(a.sfDir)}",\n  "digests": {\n$body\n  }\n}\n""")
    } finally spark.stop()
  }

  def check(a: Main.Args, verifyDir: String): Boolean = {
    val spark = Main.session()
    val expected = Main.expectedDigests(a.benchDir)
    try members.map { m =>
      val got = Digest.of(spark.read.parquet(s"$verifyDir/$m")).show
      val ok = expected.get(m).contains(got)
      println(s"${if (ok) "PASS" else "FAIL"} $m digest $got expected ${expected.getOrElse(m, "none")}")
      ok
    }.forall(identity) finally spark.stop()
  }
}
