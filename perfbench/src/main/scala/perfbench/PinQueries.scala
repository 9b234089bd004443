package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Observation
import graft.SparkEntry

/** Pins the query_suite outputs, and cross-checks pins against another
  * run's dumped results.
  *
  *   pin <data> <pins> <passes> <cores> [previous pins]
  *     runs every query `passes` times (seeded orders) and writes each
  *     query's row count and content hash; a hash that differs between
  *     passes, or from the previous pins (e.g. taken at another core
  *     count), is written as "-" (rows only).
  *   crosscheck <pins> <dump dir>
  *     compares the pins with the results `graft.Verify` dumped as
  *     parquet under <dump dir>/<query> (whose oracled queries
  *     `tools/check_oracles.py` compares with DuckDB).
  */
object PinQueries {
  def main(args: Array[String]): Unit = {
    val work = Paths.get("perfbench/.work/pin").toAbsolutePath
    Files.createDirectories(work)
    args(0) match {
      case "pin" =>
        val Array(_, data, pinPath, passes, cores) = args.take(5)
        val previous = args.lift(5).map(p => QuerySuite.readPins(Paths.get(p))).getOrElse(Map.empty)
        val spark = Main.session(cores.toInt, work)
        val names = SparkEntry.queries.keys.toVector.sorted
        val outcomes = (0 until passes.toInt).flatMap { p =>
          Inputs.shuffle(names, new java.util.SplittableRandom(p + 1L)).map { n =>
            val obs = Observation(s"${n}_$p")
            QuerySuite.observed(SparkEntry.queries(n)(spark, data), obs)
              .write.mode("overwrite").format("noop").save()
            n -> QuerySuite.outcome(obs)
          }
        }.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).distinct }
        val lines = names.map { n =>
          val os = outcomes(n)
          require(os.map(_._1).distinct.size == 1, s"$n: row count differs between passes: $os")
          val stable = os.size == 1 && previous.get(n).forall(_.hash.contains(os.head._2))
          s"$n\t${os.head._1}\t${if (stable) os.head._2 else "-"}"
        }
        Files.write(Paths.get(pinPath), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
        println(s"pinned ${names.size} queries, ${lines.count(!_.endsWith("\t-"))} with a content hash")
        spark.stop()
      case "crosscheck" =>
        val Array(_, pinPath, dump) = args.take(3)
        val pins = QuerySuite.readPins(Paths.get(pinPath))
        val spark = Main.session(2, work)
        var bad = 0
        pins.toSeq.sortBy(_._1).foreach { case (n, pin) =>
          val obs = Observation(s"${n}_dump")
          QuerySuite.observed(spark.read.parquet(s"$dump/$n"), obs).write.mode("overwrite").format("noop").save()
          val o = QuerySuite.outcome(obs)
          val ok = pin.matches(o)
          if (!ok) bad += 1
          println(s"${if (ok) "OK  " else "FAIL"} $n pinned=${pin.rows}/${pin.hash.getOrElse("-")} dumped=${o._1}/${o._2}")
        }
        println(s"${pins.size - bad} ok, $bad fail")
        spark.stop()
        if (bad > 0) sys.exit(1)
    }
  }
}
