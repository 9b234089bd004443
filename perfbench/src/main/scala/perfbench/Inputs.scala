package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import graft.spark.{Transcripts, Turn}

/** Seeded transcript inputs. The engine only ever sees the generated rows;
  * the seed stays in the benchmark.
  *
  * Each turn carries one of the nine payload shapes of
  * `Transcripts.payloads`, rebuilt here from the fixture lines so that a
  * turn's body can be perturbed and concatenated before its wrapper (HTML
  * page or two-column PDF runs) is applied. [[selfCheckShapes]] proves the
  * rebuilt shapes equal `Transcripts.payloads` byte for byte.
  *
  * Work per input is fixed, not drawn: every file holds the same multiset
  * of (shape, copies) slots, so two seeds differ only in which turn gets
  * which slot, which words are perturbed and how turns group into
  * conversations. Perturbation swaps the letters of words in place, so
  * text lengths do not depend on the seed either.
  */
object Inputs {

  final case class Shape(fixture: String, tag: String) {
    def wrapper: String = tag.split(":", 2) match {
      case Array(w, _) => w
      case _ => ""
    }
  }

  /** The shapes of `Transcripts.payloads`, in its order. */
  val shapes: Vector[Shape] = Vector(
    Shape("tooth_removal_consent", "consent_txt"),
    Shape("consent_crown_bridge", "consent_txt"),
    Shape("pediatric_extraction", "docling_md"),
    Shape("npf", "docling_md"),
    Shape("records_release", "docling_md"),
    Shape("zoom_consent", "docx"),
    Shape("denture_consent", "docx"),
    Shape("tooth_removal_consent", "html:consent_txt"),
    Shape("pediatric_extraction", "pdf_runs:docling_md"))

  /** Body copies per turn, per 25 turns of one shape in one file: a turn is
    * one fixture body 60% of the time and up to four concatenated bodies. */
  val copiesPer25: Vector[(Int, Int)] = Vector(1 -> 15, 2 -> 6, 3 -> 3, 4 -> 1)
  val slotsPerFile: Int = shapes.size * 25

  private lazy val fixtureLines: Map[String, Vector[String]] =
    shapes.map(_.fixture).distinct.map { n =>
      val in = getClass.getClassLoader.getResourceAsStream(s"fixtures/$n.txt")
      require(in != null, s"missing fixture $n")
      try n -> new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        .split("\n", -1).toVector
      finally in.close()
    }.toMap

  def render(shape: Shape, lines: Seq[String]): String = shape.wrapper match {
    case "html" => Transcripts.wrapInBoilerplateHtml(lines)
    case "pdf_runs" => graft.parse.XYCut.renderRuns(graft.parse.XYCut.synthesizeColumns(lines, cols = 2))
    case _ => lines.mkString("\n")
  }

  /** The rebuilt shapes, unperturbed, must equal the engine's payloads. */
  def selfCheckShapes(): Boolean =
    shapes.map(s => (s.tag, render(s, fixtureLines(s.fixture)))) == Transcripts.payloads.toVector

  /** Swap the letters of two words (four or more ASCII letters) on one of
    * the three longest lines, keeping each letter's case: the lines, their
    * lengths and the form's labels elsewhere stay as they were. */
  def perturb(lines: Vector[String], rng: SplittableRandom): Vector[String] = {
    val longest = lines.indices.sortBy(i => -lines(i).length).take(3)
    val li = longest(rng.nextInt(longest.size))
    val chars = lines(li).toCharArray
    val words = "[A-Za-z]{4,}".r.findAllMatchIn(lines(li)).map(m => (m.start, m.end)).toVector
    if (words.isEmpty) return lines
    for (_ <- 0 until 2) {
      val (a, b) = words(rng.nextInt(words.size))
      for (k <- a until b) {
        val c = ('a' + rng.nextInt(26)).toChar
        chars(k) = if (chars(k).isUpper) c.toUpper else c
      }
    }
    lines.updated(li, new String(chars))
  }

  /** A generated turn and the number of fixture bodies in its text. */
  final case class Row(turn: Turn, copies: Int)

  /** One transcript table: `files` groups of [[slotsPerFile]] turns, in
    * file order (so `files` equal slices of the returned vector hold equal
    * work). Conversation lengths are those of `Transcripts` (90% 2-8 turns,
    * 10% 100-500), the same for every seed; the last conversation is cut
    * to fit. Every text is distinct. */
  def transcripts(seed: Long, files: Int, convPrefix: String): Vector[Row] = {
    val rng = new SplittableRandom(seed)
    val n = files * slotsPerFile
    // (shape, copies) slots, shuffled within each file
    val slots = (0 until files).flatMap { _ =>
      val file = for {
        shape <- shapes.indices
        (copies, count) <- copiesPer25
        _ <- 0 until count
      } yield (shape, copies)
      shuffle(file.toVector, rng)
    }.toVector
    // (conv_id, turn_idx) keys, shuffled over the slots; conversation
    // lengths are Transcripts.convLength of ordinals 0, 1, 2, ...
    val keys = {
      val b = Vector.newBuilder[(String, Int)]
      var total = 0
      var ord = 0L
      while (total < n) {
        val len = math.min(n - total, Transcripts.convLength(ord))
        val id = f"$convPrefix-$ord%05d"
        (0 until len).foreach(t => b += ((id, t)))
        total += len
        ord += 1
      }
      shuffle(b.result(), rng)
    }
    val seen = scala.collection.mutable.HashSet.empty[String]
    slots.zip(keys).map { case ((si, copies), (convId, t)) =>
      val shape = shapes(si)
      var text = ""
      do text = body(shape, copies, rng) while (!seen.add(text))
      Row(Turn(convId, t, Seq("user", "assistant", "tool")(t % 3), text, shape.tag,
        new Timestamp((Transcripts.Epoch + t * 60L) * 1000L)), copies)
    }
  }

  private def body(shape: Shape, copies: Int, rng: SplittableRandom): String =
    render(shape, (1 to copies).flatMap(_ => perturb(fixtureLines(shape.fixture), rng)))

  /** The same turn with its body perturbed again under `salt`: an upstream
    * correction of one conversation. */
  def mutate(row: Row, salt: Long): Row = {
    val t = row.turn
    val rng = new SplittableRandom(salt * 1000003L + t.conv_id.hashCode * 31L + t.turn_idx)
    row.copy(turn = t.copy(text = body(shapes.find(_.tag == t.tool).get, row.copies, rng)))
  }

  def shuffle[A](xs: Vector[A], rng: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** Content digest of an input, for the seed self-checks. */
  def digest(turns: Seq[Turn]): Long = {
    var h = 1125899906842597L
    turns.foreach { t =>
      h = 31 * h + t.conv_id.hashCode
      h = 31 * h + t.turn_idx
      h = 31 * h + t.text.hashCode
      h = 31 * h + t.tool.hashCode
    }
    h
  }
}
