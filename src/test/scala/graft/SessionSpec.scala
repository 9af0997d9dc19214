package graft

import graft.plans.{GraftExtensions, GraftFunctions}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.ExtensionsBridge
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** One session builder, one function table: every entry point and this
  * suite run `Graft.session`, and both SQL install paths read
  * `GraftFunctions.sqlFunctions`. */
class SessionSpec extends SparkSpec {

  test("Graft.session is the only SparkSession builder in src/main and src/test") {
    val needle = "SparkSession" + ".builder("
    def sources(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val hits = Seq("src/main/scala", "src/test/scala").flatMap(sources).flatMap { p =>
      val n = Regex.quote(needle).r.findAllMatchIn(Files.readString(p)).size
      if (n > 0) Some(p.toString -> n) else None
    }
    assert(hits == Seq("src/main/scala/graft/core/Graft.scala" -> 1))
  }

  test("the test suite runs the shipped session config") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      graft.core.Graft.CodegenCacheMaxEntries)
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ==
      "4000000")
    GraftFunctions.sqlFunctions.foreach { case (name, _) =>
      assert(spark.catalog.functionExists(name), name)
    }
  }

  test("GraftExtensions injects every function of the shared SQL function table") {
    val names = GraftFunctions.sqlFunctions.map(_._1)
    assert(names.size == 14 && names.distinct == names)
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val registry = ExtensionsBridge.injectedFunctions(ext)
    names.foreach(n => assert(registry.functionExists(FunctionIdentifier(n)), n))
    val money = registry.lookupFunction(FunctionIdentifier("format_money"), Seq(Literal(199L)))
    assert(money.eval().toString == "$1.99")
  }
}
