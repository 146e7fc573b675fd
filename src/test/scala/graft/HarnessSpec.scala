package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSessionExtensionsProvider
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftExtensions

/** The mains around the engine: Bench's per-query harness, the rule
  * that every main is documented where users look for it, the rule
  * that one module reads committed batches, and the rule that graft's
  * functions reach every session through one registration point. */
class HarnessSpec extends SparkSpec {

  test("Bench.run records each query's layers; a failing query lands in failed_queries") {
    // the flagship entry: q_market_features at sf0.001
    val flagship: Bench.Query = (s, _) => SparkEntry.entry(s)
    val failing: Bench.Query = (s, _) => s.range(3).select(raise_error(lit("injected")))
    val out = new ObjectMapper().readTree(Bench.run(spark, "",
      Seq("flagship" -> flagship, "failing" -> failing), reps = 1))
    assert(out.get("queries").has("flagship") && out.get("layers").has("flagship"))
    val l = out.get("layers").get("flagship")
    val Seq(jobs, stages, tasks) = Seq("jobs", "stages", "tasks").map(l.get(_).asLong)
    assert(jobs >= 1 && stages >= jobs && tasks >= stages, l.toString)
    assert(!out.get("queries").has("failing") && !out.get("layers").has("failing"))
    assert(out.get("failed_queries").elements().asScala.map(_.asText).toSeq == Seq("failing"))
  }

  test("every main under src/main/scala is named in README's run table") {
    val table = Files.readString(Paths.get("README.md")).linesIterator
      .filter(_.startsWith("|")).mkString("\n")
    val walk = Files.walk(Paths.get("src/main/scala"))
    val mains = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
      val src = Files.readString(p)
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1)).toSeq
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val obj = "object (\\w+)".r.findAllMatchIn(src.take(m.start)).toSeq.last.group(1)
        (pkg :+ obj).mkString(".")
      }
    }.toList finally walk.close()
    assert(mains.contains("graft.Bench"), mains)
    val orphans = mains.filterNot(m => table.contains(s"`$m`"))
    assert(orphans.isEmpty, s"mains missing from README's run table: $orphans")
  }

  test("only CommitLog reads a `_commits` table by its batch partition") {
    val walk = Files.walk(Paths.get("src/main"))
    val readers = try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.endsWith(Paths.get("store/CommitLog.scala")))
      .filter(p => Files.readString(p).contains("col(\"batch\")"))
      .map(_.toString).toList finally walk.close()
    assert(readers.isEmpty, s"filter committed batches through CommitLog.scan: $readers")
  }

  test("graft functions are registered once, by the session extension Spark loads") {
    val providers = java.util.ServiceLoader.load(classOf[SparkSessionExtensionsProvider])
      .iterator.asScala.map(_.getClass).toList
    assert(providers.contains(classOf[GraftExtensions]),
      s"META-INF/services names no GraftExtensions: $providers")
    val registration = "(createOrReplaceTemp|inject)Function".r
    val walk = Files.walk(Paths.get("src"))
    val registrars = try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.endsWith(Paths.get("graft/EwmMean.scala")))
      .filter(p => registration.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString).toList finally walk.close()
    assert(registrars.isEmpty, s"register functions through GraftExtensions: $registrars")
  }
}
