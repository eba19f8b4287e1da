package graft.perfbench

import graft.behavioral.EventBuf
import graft.behavioral.pattern.{PStep, PatternExecutor, PatternParser}

/** Direct timings of the `behavioral` kernels — `EventBuf` sort and serde
  * and the three `PatternExecutor` tiers plus `executeCollect` — on
  * buffers built from the generated per-user event streams.
  *
  * Each user's time-ordered events are cut into 8 contiguous runs that are
  * concatenated in a seeded random order: the shape an aggregate buffer
  * has after merging the partial buffers of several map tasks, each of
  * which covers a time range of the input. Conditions are bit 0 = view,
  * bit 1 = click, bit 2 = purchase, as in the contract rows. */
object Kernels {
  private val Runs = 8
  private val MinNs = 250L * 1000 * 1000
  /** Receives the kernels' results so the JIT cannot drop the calls. */
  @volatile var blackhole = 0L

  def conds(eventType: String): Int = eventType match {
    case "view" => 1
    case "click" => 2
    case "purchase" => 4
    case _ => 0
  }

  /** `perUser`: each user's (ts micros, condition mask) in time order. */
  def time(perUser: Seq[(Array[Long], Array[Int])]): Map[String, Double] = {
    val rnd = new scala.util.Random(42)
    val merged = perUser.map { case (ts, cs) =>
      val n = ts.length
      val cuts = (0 to Runs).map(i => (i.toLong * n / Runs).toInt).distinct
      val runs = rnd.shuffle(cuts.zip(cuts.tail).toList)
      val t = new Array[Long](n)
      val c = new Array[Int](n)
      var p = 0
      runs.foreach { case (a, b) =>
        System.arraycopy(ts, a, t, p, b - a)
        System.arraycopy(cs, a, c, p, b - a)
        p += b - a
      }
      (t, c)
    }
    val events = merged.map(_._1.length.toLong).sum
    if (events == 0) return Map.empty

    // repeat `body` over all buffers until MinNs elapsed; ns per event
    def perEvent(prepare: () => Unit)(body: () => Unit): Double = {
      var ns = 0L
      var rounds = 0L
      while (ns < MinNs) {
        prepare()
        val t0 = System.nanoTime()
        body()
        ns += System.nanoTime() - t0
        rounds += 1
      }
      ns.toDouble / (rounds * events)
    }

    var bufs: Array[EventBuf] = Array.empty
    val sortNs = perEvent(() => {
      bufs = merged.map { case (t, c) =>
        new EventBuf(t.clone(), c.clone(), t.length) }.toArray
    })(() => bufs.foreach(_.sortByTs()))
    val sorted = bufs
    var sink = 0L
    val serdeNs = perEvent(() => ())(() =>
      sorted.foreach(b => sink += EventBuf.deserialize(b.serialize()).n))
    def steps(p: String): Array[PStep] = PatternParser.parse(p) match {
      case Right(s) => s
      case Left(e) => throw new IllegalArgumentException(e.toString)
    }
    def pattern(p: String): Double = {
      val s = steps(p)
      perEvent(() => ())(() =>
        sorted.foreach(b => sink += PatternExecutor.execute(s, b, countAll = true)))
    }
    val adjacent = pattern("(?1)(?2)")
    val wildcard = pattern("(?1).*(?2)")
    val nfa = pattern("(?1)(?t<=600)(?2)")
    val collectSteps = steps("(?1)(?2)")
    val collect = perEvent(() => ())(() => sorted.foreach { b =>
      val r = PatternExecutor.executeCollect(collectSteps, b)
      if (r != null) sink += r.length
    })
    blackhole = sink
    Map(
      "eventbuf.sort_ns_per_event" -> sortNs,
      "eventbuf.serde_ns_per_event" -> serdeNs,
      "pattern.adjacent_ns_per_event" -> adjacent,
      "pattern.wildcard_ns_per_event" -> wildcard,
      "pattern.nfa_ns_per_event" -> nfa,
      "pattern.collect_ns_per_event" -> collect)
  }
}
