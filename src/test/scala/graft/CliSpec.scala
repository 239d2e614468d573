package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

class CliSpec extends SparkSpec {

  test("explain writes each plan and reports an unknown name without stopping") {
    val out = Files.createTempDirectory("graft-explain")
    assert(Cli.explain(spark, sf0001, out.toString, Seq("q1_agg")).isEmpty)
    assert(Files.readString(out.resolve("q1_agg.txt")).contains("Physical Plan"))

    val out2 = Files.createTempDirectory("graft-explain")
    val err = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val failed =
      try Cli.explain(spark, sf0001, out2.toString, Seq("no_such_query", "q1_agg"))
      finally System.setErr(realErr)
    assert(failed == Seq("no_such_query"))
    assert(err.toString.contains("no_such_query"))
    assert(Files.size(out2.resolve("q1_agg.txt")) > 0)
  }

  test("run completes one rep of a registered query") {
    Cli.run(spark, sf0001, "q1_agg", reps = 1)
  }

  test("the only objects with a main under src/main/scala are Bench, Verify and Cli") {
    val objectDecl = """(?m)^\s*object\s+(\w+)""".r
    val mains = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        "def main\\(".r.findAllMatchIn(src).map { m =>
          objectDecl.findAllMatchIn(src.substring(0, m.start))
            .map(_.group(1)).toSeq.lastOption.getOrElse(p.toString)
        }
      }.toSet
    assert(mains == Set("Bench", "Verify", "Cli"))
  }
}
