package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own logic. */
class PerfbenchSuite extends AnyFunSuite {

  test("a percentile needs ten samples beyond it") {
    assert(!Stats.supported(99, 0.90))
    assert(Stats.supported(100, 0.90))
    assert(!Stats.supported(199, 0.95))
    assert(Stats.supported(200, 0.95))
    assert(Stats.beyond(99, 0.90) === 9)
    assert(math.abs(Stats.quantile((1 to 100).map(_.toDouble), 0.90) - 90.1) < 1e-9)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) === 2.5)
  }

  test("self time subtracts the union of overlapping children") {
    val spans = Seq(
      Span(0, -1, 1, "root", 0, 100),
      Span(1, 0, 1, "a", 10, 40),
      Span(2, 0, 1, "b", 30, 60), // overlaps a: union 10..60
      Span(3, 0, 1, "c", 90, 130), // sticks out: only 90..100 counts
      Span(4, 1, 1, "a.child", 15, 20))
    val self = Trace.selfTimes(spans)
    assert(self(0) === 100 - 50 - 10)
    assert(self(1) === 30 - 5)
    assert(self(2) === 30)
    assert(self(3) === 40)
    assert(self(4) === 5)
  }

  test("the tracer nests spans and records nothing when off") {
    val t = new Tracer(true)
    t.request(7) { t.span("outer") { t.span("inner")(()) ; t.record("phase", 1, 2) } }
    val all = t.all
    assert(all.map(_.name) === Seq("outer", "inner", "phase"))
    assert(all(1).parent === all(0).id && all(2).parent === all(0).id)
    assert(all.forall(_.req == 7))
    assert(Tracer.Off.span("x")(42) === 42)
    assert(Tracer.Off.all.isEmpty)
  }

  test("Zipf keys are determined by the seed and skewed") {
    def draw(seed: Long, rngSeed: Long) = {
      val z = new Zipf(1000, 1.0, seed)
      val r = new Rng(rngSeed)
      Vector.fill(2000)(z.next(r))
    }
    assert(draw(5, 1) === draw(5, 1))
    assert(draw(5, 1) !== draw(6, 1))
    assert(draw(5, 1) !== draw(5, 2))
    val xs = draw(5, 1)
    assert(xs.forall(k => k >= 0 && k < 1000))
    val top = xs.groupBy(identity).values.map(_.size).max
    assert(top > 2000 / 20, s"hottest key drawn $top times: not skewed")
  }

  test("COPY blocks are determined by seed and rep, and carry their sums") {
    val a = CopyGen.block(3, 1, 500)
    assert(a.bytes.sameElements(CopyGen.block(3, 1, 500).bytes))
    assert(!a.bytes.sameElements(CopyGen.block(4, 1, 500).bytes))
    assert(!a.bytes.sameElements(CopyGen.block(3, 2, 500).bytes))
    val lines = new String(a.bytes, "UTF-8").split('\n')
    assert(lines.length === 500)
    assert(lines.map(_.split('\t')(0).toLong).sum === a.sumK)
    assert(lines.forall(_.split('\t').length == 3))
  }

  test("the stratified entry order samples every chunk in any prefix") {
    val pool = (0 until 40).map(i => f"e$i%02d")
    val w = new LibFixed(Dirs("d", "s"), 1, "x")
    val o1 = w.order(pool, new Rng(9))
    assert(o1.sorted === pool)
    assert(o1 === w.order(pool, new Rng(9)))
    assert(o1 !== w.order(pool, new Rng(10)))
    val chunks = o1.take(pool.size / LibFixed.Chunk).map(n => pool.indexOf(n) / LibFixed.Chunk)
    assert(chunks.distinct.size === pool.size / LibFixed.Chunk)
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark reports, with their units") {
    val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def listed(key: String) = spec.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed("end_to_end") === Metrics.EndToEnd)
    assert(listed("per_layer") === Metrics.PerLayer)
    val workloads = spec.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(workloads === Main.Workloads)
  }
}
