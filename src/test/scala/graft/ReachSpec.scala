package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One implementation per operator: every public object-level def in
  * `graft.operators`, `graft.streaming` and `graft.core` has a caller in
  * `src/main` or `perfbench/src` (outside its own definition, comments
  * and plain string literals), or it is declared on one of two lists:
  *
  *  - [[ReachSpec.References]]: a def that a spec compares a reached def
  *    against (its oracle), paired with that spec;
  *  - [[ReachSpec.Unreached]]: a def that only specs call today — each
  *    one a candidate for deletion.
  *
  * A caller is a word match of the def's name, so the check is lenient
  * (a same-named def elsewhere counts) but never misses a real call. */
class ReachSpec extends AnyFunSuite {
  import ReachSpec._

  test("every public operator, streaming and core def is reached, or declared on one list") {
    val defs = publicDefs()
    val callers = sources(Seq("src/main/scala", "perfbench/src"))
      .map(p => p -> stripComments(Files.readString(p)).split("\n", -1).toSeq).toMap
    val spans = defs.groupBy(_.name)
    def called(d: Def): Boolean = {
      val word = ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(d.name) +
        "(?![A-Za-z0-9_])").r
      callers.exists { case (p, lines) =>
        lines.indices.exists { i =>
          word.findFirstIn(lines(i)).isDefined &&
            !spans(d.name).exists(o => o.file == p && i >= o.from && i < o.until)
        }
      }
    }
    val reached = defs.filter(called).map(_.qualified).toSet
    val all = defs.map(_.qualified).toSet
    val listed = References.keySet ++ Unreached
    val unlisted = (all -- reached -- listed).toSeq.sorted
    assert(unlisted.isEmpty,
      s"public defs with no caller in src/main or perfbench/src: ${unlisted.mkString(", ")} " +
        "— call them, delete them, or declare them on a list in ReachSpec")
    val gone = (listed -- all).toSeq.sorted
    assert(gone.isEmpty, s"listed defs that no longer exist: ${gone.mkString(", ")}")
    val gained = (listed intersect reached).toSeq.sorted
    assert(gained.isEmpty, s"listed defs that gained a caller: ${gained.mkString(", ")} " +
      "— take them off the list")
    assert((References.keySet intersect Unreached).isEmpty)
  }

  test("each reference def is used by the spec it is paired with") {
    References.foreach { case (d, spec) =>
      val src = Files.readString(Paths.get(s"src/test/scala/graft/$spec.scala"))
      assert(src.contains(d.split('.').last), s"$spec does not use $d")
    }
  }

  test("the comment stripper keeps code after a string that holds a comment opener") {
    val src = "val q = \"SELECT * FROM '/x/*.parquet'\" // tail\nlshNeighborPairs(q) /* c\n */ x"
    assert(stripComments(src) == "val q = \"\" \nlshNeighborPairs(q) \n x")
    assert(stripComments("s\"a/*${f(x)}\" + \"\"\"/*\"\"\" + y") ==
      "s\"a/*${f(x)}\" + \"\" + y")
  }
}

object ReachSpec {

  /** Reference baselines: each one is what the paired spec compares a
    * reached def against. */
  val References: Map[String, String] = Map(
    "Dedup.jaccardPairs" -> "DedupSpec", // jaccardPairsExhaustive
    "Similarity.ivfPqResidualEncode" -> "EtlCliSpec", // retrain-ivfpq's re-encode
    "Sketches.bloomProbe" -> "PropertySpec", // bloomCountHits
    "Sketches.bloomHit" -> "PropertySpec", // bloomCountHits
    "TextAnalysis.simhash64" -> "TextAnalysisSpec", // the native simhash
    "TextAnalysis.bigramFluency" -> "TextAnalysisSpec", // bigramFluencyFromModel
    "TextAnalysis.dsirPreference" -> "TextAnalysisSpec" // dsirPreferenceFromModel
  )

  /** Defs only specs call: candidates for deletion. */
  val Unreached: Set[String] = Set(
    "Dedup.decontaminateFuzzy",
    "MarvelTransform.withIssueOrder",
    "Multimodal.featurize", "Multimodal.resizeImages", "Multimodal.sampleFrames",
    "Multimodal.batchForInference", "Multimodal.readBinaryDir",
    "Multimodal.writeBinaryFiles",
    "Relational.saltedJoin",
    "Similarity.ivfPqResidualTopK", "Similarity.semanticDedup",
    "Similarity.kmeansAssign", "Similarity.binaryRerankTopK",
    "Similarity.quantizerCellStats",
    "Sketches.hllEstimateCorrected",
    "Stats.approxMadPerGroup",
    "TextAnalysis.avgTokenLen", "TextAnalysis.qualityScore",
    "TextClean.normalizeWhitespace",
    "Tables.registerAll",
    "Store.writePartitioned", "Store.overwritePartitions", "Store.writeBucketed",
    "Store.writeClustered", "Store.zorderKey"
  )

  final case class Def(obj: String, name: String, file: Path, from: Int, until: Int) {
    def qualified: String = s"$obj.$name"
  }

  def sources(roots: Seq[String]): Seq[Path] = roots.flatMap { r =>
    val s = Files.walk(Paths.get(r))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  private val ObjectLine = "^object\\s+(\\w+)".r.unanchored
  private val DefLine =
    "^  (?:(?:final|override|implicit)\\s+)*def\\s+([A-Za-z_][A-Za-z0-9_]*)".r.unanchored

  /** The public defs declared directly in a top-level object, each with
    * its body's line span (up to the next member or the object's end) in
    * the comment-stripped file. */
  def publicDefs(): Seq[Def] =
    sources(Seq("operators", "streaming", "core").map(p => s"src/main/scala/graft/$p"))
      .flatMap { p =>
        val lines = stripComments(Files.readString(p)).split("\n", -1).toSeq
        def indent(l: String) = l.length - l.dropWhile(_ == ' ').length
        var obj: Option[String] = None
        lines.indices.flatMap { i =>
          val l = lines(i)
          if (l.nonEmpty && indent(l) == 0 && !l.startsWith("}")) {
            obj = l match { case ObjectLine(o) if l.startsWith("object") => Some(o); case _ => None }
            None
          } else (obj, l) match {
            case (Some(o), DefLine(name)) if l.startsWith("  ") && indent(l) == 2 =>
              val end = lines.indices.drop(i + 1).find { j =>
                val t = lines(j).trim
                t.nonEmpty && indent(lines(j)) <= 2 && !t.startsWith("}") && !t.startsWith(")")
              }.getOrElse(lines.length)
              Some(Def(o, name, p, i, end))
            case _ => None
          }
        }
      }

  /** Blank out `//` and (nested) block comments, keeping line breaks. A
    * string literal is never entered as a comment; a plain string's
    * contents are blanked too (a def named in a message is not a call),
    * while an interpolated string stays whole, since its `${...}` parts
    * are code. */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    def identBefore(k: Int) = k > 0 && (src(k - 1).isLetterOrDigit || src(k - 1) == '_')
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src(j) == '"') j += 1
        if (identBefore(i)) out ++= src.substring(i, j)
        else out ++= "\"\"" + "\n" * src.substring(i, j).count(_ == '\n')
        i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        if (identBefore(i)) out ++= src.substring(i, math.min(j + 1, n)) else out ++= "\"\""
        i = j + 1
      } else if (src(i) == '\'' && i + 2 < n && (src(i + 2) == '\'' ||
                 (src(i + 1) == '\\' && i + 3 < n && src(i + 3) == '\''))) {
        val j = if (src(i + 1) == '\\') i + 4 else i + 3
        out ++= src.substring(i, j)
        i = j
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out ++= "\n" * src.substring(i, j).count(_ == '\n')
        i = j
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }
}
