package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** The benchmark's own tests:
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var passed, failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok    $name") }
    catch { case NonFatal(e) => failed += 1; println(s"FAIL  $name: $e") }

  private def assert(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  private def syntheticEvents(n: Int): Seq[HistoryGen.Event] = {
    val rnd = new scala.util.Random(99)
    (0 until n).map { i =>
      HistoryGen.Event(i.toLong, 1704067200000000L + i * 25000000L + rnd.nextInt(1000000),
        rnd.nextInt(1500).toLong, Seq("view", "click", "error")(rnd.nextInt(3)), rnd.nextInt(50000) / 100.0)
    }
  }

  private def bytesOf(h: HistoryGen.History): Seq[Seq[Byte]] = h.files.map(f => Files.readAllBytes(f).toSeq)

  def main(args: Array[String]): Unit = {
    def arg(n: String) = args(args.indexOf(n) + 1)
    val data = arg("--data")
    val work = Paths.get(arg("--work"))
    val events = syntheticEvents(40000)

    test("the generator is deterministic for a seed") {
      val a = HistoryGen.write(events, 7, work.resolve("gen_a"))
      val b = HistoryGen.write(events.reverse, 7, work.resolve("gen_b"))
      val c = HistoryGen.write(events, 8, work.resolve("gen_c"))
      assert(bytesOf(a) == bytesOf(b), "same seed, different bytes")
      assert(a.copy(dir = b.dir, files = b.files) == b, s"same seed, different counts: $a vs $b")
      assert(bytesOf(a) != bytesOf(c), "another seed gave the same bytes")
      assert(a.malformed > 0 && a.badTs > 0 && a.nullMs > 0 && a.negativeMs > 0, s"a defect kind is missing: $a")
    }

    test("the tail is the highest percentile with ten samples beyond it") {
      val t = Stats.tail((1 to 30).map(_.toDouble).reverse)
      assert(t == Stats.Tail(20.0, 100.0 * 20 / 30, 30), s"30 samples: $t")
      assert((1 to 30).count(_ > t.value) == 10, "not ten beyond")
      assert(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0, "11 samples")
      assert(Stats.tail(Seq(5.0, 1.0, 3.0)) == Stats.Tail(3.0, 50.0, 3), "too few samples: the median")
    }

    test("error_rate counts thrown and wrong-output operations") {
      val l = new Ledger
      l.attempt("ops", "succeeds")(1)
      l.attempt("ops", "throws")(sys.error("boom"))
      l.check("mart", "wrong output")(false)
      l.check("mart", "throws while checking")(sys.error("boom"))
      l.check("mart", "right output")(true)
      assert(l.attempted == 5 && l.failed == 3, s"attempted ${l.attempted}, failed ${l.failed}")
      assert(l.errorRate == 0.6, s"error rate ${l.errorRate}")
      assert(l.failedByLayer == Map("ops" -> 1, "mart" -> 2), s"${l.failedByLayer}")
    }

    val spark = Main.session()
    try {
      test("cleanHistory quarantines exactly the injected defects") {
        val h = HistoryGen.write(events, 11, work.resolve("gen_q"))
        val (clean, quarantine) = graft.etl.Extractor.cleanHistory(
          graft.etl.Extractor.readHistoryJson(spark, h.dir.toString))
        assert(quarantine.count() == h.injected, s"quarantined ${quarantine.count()}, injected ${h.injected}")
        assert(clean.count() == h.lines - h.injected, "clean rows")
        val (loaded, _) = graft.etl.Extractor.cleanHistory(
          graft.etl.Extractor.readHistoryJson(spark, h.loadedGlob))
        val delta = graft.etl.Extractor.deltaLoad(clean, loaded).count()
        assert(delta == h.expectedDelta && delta < clean.count(), s"delta $delta, expected ${h.expectedDelta}")
      }

      test("a traced run reports shuffle bytes for rec_item_item_cf and none for a scan") {
        val t = new Tracer(spark)
        val dir = s"$data/sf0.001"
        t.split("ops.rec_item_item_cf")(graft.SparkEntry.queries("rec_item_item_cf")(spark, dir))(Main.noop)
        t.split("core.region")(graft.Tables.region(spark, dir))(Main.noop)
        t.drain()
        val cf = t.stats("ops.rec_item_item_cf")
        val scan = t.stats("core.region")
        assert(cf.shuffleWrite > 0 && cf.shuffleRead > 0, s"cf shuffle ${cf.shuffleWrite}/${cf.shuffleRead}")
        assert(scan.tasks > 0 && scan.shuffleWrite == 0 && scan.shuffleRead == 0,
          s"scan tasks ${scan.tasks}, shuffle ${scan.shuffleWrite}/${scan.shuffleRead}")
        assert(cf.cpuNs > 0 && cf.cpuNs / 1e6 <= cf.runMs * 1.05 + 50, s"cpu ${cf.cpuNs} ns vs run ${cf.runMs} ms")
      }
    } finally spark.stop()

    println(s"""{"passed": $passed, "failed": $failed}""")
    if (failed > 0) sys.exit(1)
  }
}
