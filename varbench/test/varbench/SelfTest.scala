package varbench

import java.io.File
import java.util.Locale
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: generators are deterministic, checkers are
  * live, records are locale-proof. Run: `python3 varbench/run.py --self-test`.
  */
object SelfTest {
  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => e.printStackTrace(); false }
    println(s"${if (pass) "PASS" else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv ++ Array("--workload", "-", "--seed", "0", "--seconds", "0", "--trace", "0"))

    check("same seed gives byte-identical log docs and trees") {
      val (x, y) = (Gen.logDocs(7, 3000), Gen.logDocs(7, 3000))
      x.map(_.json).sameElements(y.map(_.json)) && x.map(_.tree).sameElements(y.map(_.tree))
    }
    check("same seed gives byte-identical raw docs and trees") {
      val (x, y) = (Gen.rawDocs(7, 3000), Gen.rawDocs(7, 3000))
      x.map(_.json).sameElements(y.map(_.json)) && x.map(_.tree).sameElements(y.map(_.tree))
    }
    check("same seed gives the same lane tables' values and the same users") {
      LaneData.props(7).sameElements(LaneData.props(7)) && Gen.users(7).sameElements(Gen.users(7))
    }
    check("different seeds give different inputs") {
      Gen.logDocs(7, 500).map(_.json).toSeq != Gen.logDocs(8, 500).map(_.json).toSeq &&
        Gen.rawDocs(7, 500).map(_.json).toSeq != Gen.rawDocs(8, 500).map(_.json).toSeq &&
        LaneData.props(7).toSeq != LaneData.props(8).toSeq
    }
    check("raw docs draw at least 10^4 distinct key sets from 2*10^4 docs") {
      Gen.rawDocs(3, 20000).iterator
        .collect { case Doc(_, o: JObj, _) => o.fields.map(_._1).sorted.mkString(",") }
        .toSet.size >= 10000
    }
    check("raw docs: 1% malformed, 2% with big integers and escaped strings") {
      val d = Gen.rawDocs(3, 10000)
      d.count(_.tree == JNull) == 100 && d.count(x => J.at(x.tree, "big").isDefined) == 200 &&
        d.exists(_.json.contains("\\ud83d\\ude00"))
    }
    check("generated text parses back to its own tree") {
      (Gen.logDocs(5, 500) ++ Gen.rawDocs(5, 500).filter(_.tree != JNull))
        .forall(d => J.diff(d.tree, d.json).isEmpty)
    }
    check("the tree comparison catches a changed value") {
      val d = Gen.logDocs(5, 1).head
      J.diff(d.tree, d.json.replace("\"level\": \"", "\"level\": \"x")).isDefined
    }

    check("a record written under de_DE parses as JSON with the same values") {
      val old = Locale.getDefault
      Locale.setDefault(Locale.GERMANY)
      try {
        val commaLocale = String.format("%.3f", Double.box(1.5)) == "1,500"
        val r = Result(true, 12, 0, Seq(Metric("latency_p50_s", 0.1234567, "s"),
          Metric("docs_per_s", 98765.4321, "1/s"), Metric("heap_peak_mb", 256, "MB")))
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.toJson)
        commaLocale && Json.fixed(1.5, 3) == "1.500" &&
          n.get("metrics").get("latency_p50_s").get("value").doubleValue == 0.1234567 &&
          n.get("metrics").get("docs_per_s").get("value").doubleValue == 98765.4321 &&
          n.get("attempted").asLong == 12
      } finally Locale.setDefault(old)
    }
    check("percentiles are nearest-rank") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 0.5) == 50 && Stats.percentile(xs, 0.9) == 90 && Stats.median(Seq(1, 2, 3, 10)) == 2.5
    }

    val spark = Main.session(a, 0)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      def round(w: Workload, corrupt: Boolean): Phase = {
        w.corrupt = corrupt
        Main.measure(spark, w, 0, s => println(s"  $s"))
      }
      val small = Seq(new Ingest(11, a.cores, BatchDocs = 500), new StoredQuery(11, a.cores, Docs = 2000),
        new RawQuery(11, a.cores, Docs = 2000), new Lanes(11, a.cores, a.root, a.python))
      small.foreach { w =>
        try {
          w.stage(spark, new File(a.scratch, s"selftest-${w.name}"))
          check(s"${w.name}: every op passes its answer check") {
            val p = round(w, corrupt = false)
            p.failed == 0 && p.attempted > 0
          }
          check(s"${w.name}: a wrong expected answer makes every op fail") {
            val p = round(w, corrupt = true)
            p.failed == p.attempted && p.samples.isEmpty
          }
        } finally w.close()
      }
      check("same seed gives the same op order and parameters") {
        val (x, y) = (new RawQuery(11, a.cores, Docs = 100), new RawQuery(11, a.cores, Docs = 100))
        x.round(spark).map(_.name) == y.round(spark).map(_.name)
      }
      check("a thrown op counts as failed and gets no time") {
        val boom = Op("boom", 1, shredded = false, () => throw new RuntimeException("boom"), _ => None)
        Main.runOp(boom, _ => ()).isEmpty
      }
    } finally Main.stopSession(spark)

    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
