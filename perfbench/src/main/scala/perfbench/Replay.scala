package perfbench

import scala.collection.mutable
import graft.extract._
import graft.model.{FieldInfo, Spec}

/** Single-threaded replay of the route `Extractor.extractTurn` takes,
  * calling its public stage functions one at a time, so each stage gets its
  * own CPU time and allocated bytes per turn. The span map at the end of
  * `extractTurn` has no public entry point, so it is replayed from its
  * source; `main_machine` re-runs the patient-info field machine on its own
  * (it is nested inside `main_spec` and not added to the stage sum).
  *
  * Each turn also runs through the untraced `extractTurn`; the replay's
  * result must equal it (a failed check), and the stage sum must agree
  * with its time within [[GapBound]] (`extract.trace_gap`). */
object Replay {

  /** Largest accepted |stage sum / untraced time - 1|. */
  val GapBound = 0.15

  val stages: Vector[String] = Vector("clean", "classify", "consent_fields", "docx_fields",
    "main_spec", "main_machine", "render", "spanmap")

  final case class Result(metrics: Map[String, Double], mismatches: Int, turns: Int)

  private final class Meter {
    val ns: mutable.Map[String, Long] = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val bytes: mutable.Map[String, Long] = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val turns: mutable.Map[String, Long] = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    def apply[A](name: String)(f: => A): A = {
      val b0 = Probe.allocatedBytes()
      val t0 = System.nanoTime()
      val a = f
      ns(name) += System.nanoTime() - t0
      bytes(name) += Probe.allocatedBytes() - b0
      turns(name) += 1
      a
    }
  }

  private def route(profile: String): String =
    if (profile == "docx") "docx" else if (profile == "docling_md" || profile == "main") "main" else "consent"

  /** The staged equivalent of `Extractor.extractTurn(text, tool)`. */
  private def staged(text: String, tool: String, m: Meter): Extracted = {
    val (wrapper, profile) = tool.split(":", 2) match {
      case Array(w, p) if w == "html" || w == "pdf_runs" => (w, p)
      case _ => ("", tool)
    }
    val lines: Seq[String] = wrapper match {
      case "html" => m("parse.html")(graft.parse.Html.extractLines(text))
      case "pdf_runs" => m("parse.xycut")(graft.parse.XYCut.toLines(graft.parse.XYCut.parseRuns(text)))
      case _ => m("parse.plain")(text.split("\n", -1).toSeq)
    }
    val (formType, formSubtype, fields, json, mainLines) = route(profile) match {
      case "docx" =>
        val cleaned = m("clean")(ConsentExtractor.removePracticeHeadersFooters(lines))
        val (fis, json) = m("docx_fields")(EnhancedDocxConsent.convertFields(lines))
        val (ft, sub) = m("classify")(FormClassifier.classify(lines))
        (ft, sub, fis, json, cleaned)
      case "main" =>
        val (ft, sub, spec, cleanedLines) = m("main_spec")(MainExtractor.convertToSpecFullWithLines(lines))
        if (ft == "patient_info") m("main_machine")(PatientInfoMachine.extract(cleanedLines))
        val (fis, json) = m("render") {
          (spec.map(q => FieldInfo(q.key, q.title, q.fieldType, q.section, q.optional, q.control, q.lineIdx)),
            SpecRender.renderArray(spec))
        }
        (ft, sub, fis, json, cleanedLines)
      case _ =>
        val cleaned = m("clean")(ConsentExtractor.removePracticeHeadersFooters(lines))
        val (ft, sub) = m("classify")(FormClassifier.classify(lines))
        val fis = m("consent_fields")(ConsentExtractor.validateAndNormalize(
          ConsentExtractor.extractFromCleaned(cleaned.toVector, Map.empty)))
        val json = m("render")(Spec.render(fis, includeOptional = false))
        (ft, sub, fis, json, cleaned)
    }
    m("spanmap") {
      val mainText = StrUtil.joinTrimmed(mainLines, '\n')
      val titleCursor = mutable.HashMap.empty[String, Int]
      val spans = fields.map { f =>
        if (f.fieldType == "text") graft.extract.Span(f.key, 0, mainText.length)
        else if (f.title.isEmpty) graft.extract.Span(f.key, -1, -1)
        else {
          val from = titleCursor.getOrElse(f.title, 0)
          val next = mainText.indexOf(f.title, from)
          if (next >= 0) titleCursor(f.title) = next + f.title.length
          val i = if (next >= 0 || from == 0) next else mainText.indexOf(f.title)
          if (i >= 0) graft.extract.Span(f.key, i, i + f.title.length) else graft.extract.Span(f.key, -1, -1)
        }
      }
      Extracted(formType, formSubtype, mainText, spans, json, fields.length,
        fields.map(_.section).distinct.length, fields.map(f => (f.key, f.section)))
    }
  }

  /** Replays `sample` (text, tool) `rounds` times after one warm-up round,
    * alternating the untraced and the staged call first. */
  def run(sample: Seq[(String, String)], rounds: Int): Result = {
    val staged0 = new Meter
    val whole = new Meter
    var mismatches = 0
    for (r <- 0 to rounds) {
      val m = if (r == 0) new Meter else staged0
      val w = if (r == 0) new Meter else whole
      sample.foreach { case (text, tool) =>
        val profile = tool.split(":", 2) match {
          case Array(wr, p) if wr == "html" || wr == "pdf_runs" => p
          case _ => tool
        }
        def untraced() = w(route(profile))(Extractor.extractTurn(text, tool))
        val (a, b) =
          if (r % 2 == 0) { val a = untraced(); (a, staged(text, tool, m)) }
          else { val b = staged(text, tool, m); (untraced(), b) }
        if (r == 0 && a != b) mismatches += 1
      }
    }
    def perTurn(m: Meter, k: String, of: mutable.Map[String, Long]): Double =
      if (m.turns(k) == 0) 0.0 else of(k).toDouble / m.turns(k)
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (p <- Seq("html", "xycut")) {
      out(s"parse.$p.ns_per_turn") = perTurn(staged0, s"parse.$p", staged0.ns)
      out(s"parse.$p.alloc_b_per_turn") = perTurn(staged0, s"parse.$p", staged0.bytes)
    }
    for (r <- Seq("consent", "main", "docx")) {
      out(s"extract.$r.ns_per_turn") = perTurn(whole, r, whole.ns)
      out(s"extract.$r.alloc_b_per_turn") = perTurn(whole, r, whole.bytes)
    }
    stages.foreach(s => out(s"extract.$s.ns_per_turn") = perTurn(staged0, s, staged0.ns))
    val stageSum = staged0.ns.collect { case (k, v) if k != "main_machine" => v }.sum
    out("extract.trace_gap") = stageSum.toDouble / whole.ns.values.sum - 1.0
    Result(out.toMap, mismatches, sample.size)
  }
}
