package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout contract: whoever keeps only the last 2000 chars of
  * sbt's output still parses a per-query map from the compact last line,
  * and the isolated child's parse reads only the full line's numbers. */
class BenchLineSpec extends AnyFunSuite {

  private val rows: Seq[(String, Double)] = (0 until 186).map { i =>
    f"p_synthetic_membrane_capstone_fixture_with_a_long_name_$i%03d" ->
      (if (i % 47 == 5) -1.0 else 0.1 + (i * 37 % 186) * 0.05 + i * 1e-7)
  }
  private val total = rows.map(_._2).filter(_ >= 0.0).sum
  private val sf = "testdata/sf0.1"
  private val full = Bench.fullLine(total, rows, Nil, sf)
  private val compact = Bench.compactLine(total, rows, sf, "bench_out.json")

  test("the compact line survives a 2000-char sbt tail; failed rows first, then the slowest") {
    assert(compact.length <= Bench.CompactLineChars)
    val sbtOut = Seq(full, compact).map("[info] " + _).mkString("\n") +
      "\n[success] Total time: 1199 s (19:59), completed Aug 18, 2026, 12:18:46 PM\n"
    val tail = sbtOut.takeRight(2000)
    val last = tail.linesIterator.filter(_.contains("\"metric\"")).toSeq.last
    val json = new ObjectMapper().readTree(last.substring(last.indexOf('{')))
    assert(json.get("n").asInt == 186)
    val failed = rows.filter(_._2 < 0.0)
    assert(json.get("n_err").asInt == failed.size)
    val slowest = rows.filter(_._2 >= 0.0).sortBy(-_._2)
    val parsed = json.get("queries").fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toSeq
    // as many rows as fit: the next-ranked one would overflow the bound
    val next = (failed.sortBy(_._1) ++ slowest)(parsed.size)
    assert(parsed.size >= 20 && compact.length + next._1.length + 10 >
      Bench.CompactLineChars, s"${parsed.size} rows in ${compact.length} chars")
    assert(parsed.take(failed.size) == failed.sortBy(_._1))
    val timed = parsed.drop(failed.size)
    assert(timed.map(_._1) == slowest.take(timed.size).map(_._1))
    timed.zip(slowest).foreach { case ((_, got), (_, want)) =>
      assert(math.abs(got - want) <= 0.0005, s"$got vs $want")
    }
  }

  test("the isolated child's parse reads the full line's own numbers only") {
    val childOut = full + "\n" + compact + "\n"
    assert(Bench.fullQueryTimes(childOut) == rows)
  }
}
