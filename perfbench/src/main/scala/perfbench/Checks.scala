package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import graft.extract.{ConsentExtractor, EnhancedDocxConsent, MainExtractor}

/** The reference goldens, replayed the way the golden specs replay them:
  * fixture lines through the converter of the fixture's profile, compared
  * byte for byte with `src/test/resources/golden`. */
object Checks {

  private val converters: Vector[(String, Seq[String] => String)] = Vector(
    "tooth_removal_consent" -> (ConsentExtractor.convert(_)),
    "consent_crown_bridge" -> (ConsentExtractor.convert(_)),
    "pediatric_extraction" -> (MainExtractor.convert(_)),
    "records_release" -> (MainExtractor.convert(_)),
    "consent_crown_bridge_v2" -> (MainExtractor.convert(_)),
    "npf_v2" -> (MainExtractor.convert(_)),
    "zoom_consent" -> (EnhancedDocxConsent.convert(_)),
    "denture_consent" -> (EnhancedDocxConsent.convert(_)),
    "crown_bridge_docx" -> (EnhancedDocxConsent.convert(_)),
    // the NPF golden is the minified patient-info spec
    "npf" -> { (lines: Seq[String]) =>
      graft.model.Json.renderCompact(graft.model.JArr(MainExtractor.convertToSpec(lines)._2.map(_.render)))
    })

  /** (golden name, byte-equal) for every golden. */
  def goldens(repoRoot: Path): Vector[(String, Boolean)] = converters.map { case (name, convert) =>
    val golden = repoRoot.resolve(s"src/test/resources/golden/$name.json")
    val in = getClass.getClassLoader.getResourceAsStream(s"fixtures/$name.txt")
    val ok = in != null && Files.isRegularFile(golden) && {
      val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8).split("\n", -1).toSeq
        finally in.close()
      convert(lines) == new String(Files.readAllBytes(golden), StandardCharsets.UTF_8).stripLineEnd
    }
    name -> ok
  }
}
