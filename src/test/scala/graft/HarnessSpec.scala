package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the driver-facing harness itself. */
class HarnessSpec extends AnyFunSuite {

  test("oracle SQL strings survive JSON escaping round-trip") {
    // replicate Verify.q exactly
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    SparkEntry.oracleSql.foreach { case (k, v) =>
      val parsed = mapper.readTree(s"{${q(k)}: ${q(v)}}")
      assert(parsed.get(k).asText() == v, s"escape mangled oracle for $k")
    }
  }

  test("SURVEY §8.1 catalog matches SparkEntry.queries (regen guard)") {
    // the catalog is generated by tools/gen_catalog.py; this pins the
    // checked-in table to the declared surface so it can never silently
    // go stale again (r10 verdict item 6)
    val survey = new java.io.File("SURVEY.md")
    assume(survey.isFile, "SURVEY.md not present in test cwd")
    val text = scala.io.Source.fromFile(survey, "UTF-8")
    val lines = try text.getLines().toVector finally text.close()
    val start = lines.indexWhere(_.startsWith("### 8.1 "))
    assert(start >= 0, "SURVEY.md has no §8.1 heading")
    val section = lines.drop(start + 1)
      .takeWhile(l => !l.startsWith("## ") && !l.startsWith("### "))
    val listed = section.collect {
      case l if l.startsWith("| `") => l.stripPrefix("| `").takeWhile(_ != '`')
    }.toSet
    val declared = SparkEntry.queries.keySet
    assert(listed == declared,
      s"stale §8.1: missing ${(declared -- listed).toSeq.sorted}, " +
        s"extra ${(listed -- declared).toSeq.sorted} - run " +
        "python3 tools/gen_catalog.py")
  }

  test("src/main defines exactly the kept harness mains (probe guard)") {
    // src/main is the engine plus the driver harness and a fixed set of
    // measurement harnesses; per-stage and per-micro-batch attribution
    // is the traced benchmark run (perfbench/run.py --trace 1). A new
    // `main` must be argued for and added here, not accreted.
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory, "src/main/scala not present in test cwd")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) sources(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val objectDecl = """(?m)^\s*object\s+(\w+)""".r
    val mains = sources(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      // each `def main(` belongs to the nearest object declared above it
      "def main\\(".r.findAllMatchIn(text).map { m =>
        objectDecl.findAllMatchIn(text.substring(0, m.start)).toSeq
          .lastOption.map(_.group(1)).getOrElse(s"<no object in $f>")
      }
    }
    assert(mains.sorted == Seq("Bench", "BenchSweep", "ClusterProbe",
      "RecallSweep", "ScaleRatios", "ScaleSmoke", "ScaleUp", "Verify"),
      s"main objects under src/main/scala: ${mains.sorted}")
  }

  test("auto io codec: declared SFs stay lz4 byte-identical; the " +
      "measured sf30/sf10 decisions reproduce") {
    // The codec pin (r17 verdict item 1): the engine may choose zstd
    // only past the measured scratch-pressure threshold, so every
    // declared-SF session keeps the exact lz4 plans and bytes of every
    // historical bench. The two measured anchor points (SCALE.md r17
    // codec table) must reproduce: sf30 (4.6 GB input, ~71 GB free)
    // chose zstd, sf10 (1.3 GB, ~71 GB) stayed lz4.
    val free71 = 71L * (1L << 30)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val bytes = Sessions.dataDirBytes(s"/root/testdata/$sf")
      assert(bytes > 0L, s"$sf dir unreadable")
      assert(Sessions.autoIoCodec(bytes, free71) == "lz4",
        s"declared $sf ($bytes B) must keep the lz4 default")
    }
    assert(Sessions.autoIoCodec((4.6e9).toLong, free71) == "zstd",
      "the sf30 anchor point must auto-choose zstd")
    assert(Sessions.autoIoCodec((1.3e9).toLong, free71) == "lz4",
      "the sf10 anchor point must keep lz4")
    // unreadable dir → 0 bytes → lz4, never a construction failure
    assert(Sessions.dataDirBytes("/nonexistent/graft") == 0L)
    assert(Sessions.autoIoCodec(0L, free71) == "lz4")
  }

  test("all oracle SQL strings are non-empty and reference known tables") {
    val tables = Set("lineitem", "orders", "customer", "supplier", "part",
      "nation", "region", "events", "documents", "embeddings")
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, k)
      assert(tables.exists(t => sql.contains(t)),
        s"$k oracle references no known table")
    }
  }
}
