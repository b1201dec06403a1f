package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards the engine's plumbing surface against regrowth: one session
  * factory and a closed set of engine conf keys. Scans the Scala
  * sources under src/main and src/test (tests run from the project
  * root).
  */
class SurfaceSpec extends AnyFunSuite {

  private val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))

  private def sources: Seq[(Path, String)] = {
    roots.foreach(r => assert(Files.isDirectory(r), s"missing source root $r"))
    roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.map(p => p -> Files.readString(p))
  }

  test("sessions are built only by Sessions.local") {
    val direct = raw"SparkSession\s*\.\s*builder".r
    val offenders = sources.collect {
      case (p, src) if p.getFileName.toString != "Sessions.scala" && direct.findFirstIn(src).nonEmpty => p
    }
    assert(offenders.isEmpty, s"build sessions through graft.Sessions.local, not in: ${offenders.mkString(", ")}")
  }

  test("only the allowlisted spark.graft.* conf keys exist") {
    // deployment paths and settings the tests set; every other knob is
    // a constant in code
    val allowed = Set(
      "spark.graft.checkpoint.dir",
      "spark.graft.viewstore.dir",
      "spark.graft.viewstore.retention",
      "spark.graft.viewstore.build.lease",
      "spark.graft.viewstore.build.maxwait",
      "spark.graft.topk.maxGroupsPerPartition")
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val found = sources.flatMap { case (p, src) =>
      key.findAllMatchIn(src).map(m => m.group(1) -> p)
    }
    val unknown = found.filterNot(f => allowed(f._1))
    assert(unknown.isEmpty, s"conf keys outside the allowlist: ${unknown.mkString(", ")}")
  }
}
