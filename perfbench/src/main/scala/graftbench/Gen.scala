package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/** The seeded input generator. Everything a workload feeds the program
  * (graphite lines, status changes, read requests) is made here from the
  * seed before the timed phase; the generator also keeps the model the
  * expected answers are computed from.
  */
object Gen {
  /** The store's "now": 2026-01-01T00:00:00Z, a UTC midnight, so recent
    * points straddle two `date` partitions.
    */
  val Anchor: Int = 1767225600
  val Day: Int = 86400
  val Kinds: IndexedSeq[String] = IndexedSeq("cpu", "mem", "rps", "lat")

  def line(metric: String, value: Double, ts: Int): String = s"$metric $value $ts"

  /** A value with two decimals, so it prints and parses back exactly. */
  def value(rnd: SplittableRandom): Double = math.round(rnd.nextDouble() * 100000) / 100.0

  /** Lines the parser must reject, one per rejection rule. */
  val Malformed: IndexedSeq[String] = IndexedSeq(
    "garbage",
    s"one_min.bad.value abc $Anchor",
    "one_min.bad.missing_ts 1.0",
    s"one_min..empty_level 1.0 $Anchor",
    "one_min.bad.negative_ts 1.0 -5",
    s"x 1.0 $Anchor",
    s"one_min.bad.ch$$ar 1.0 $Anchor",
    s"one_min.bad.nan NaN $Anchor")
}

/** Zipf(s) over ranks 0..n-1, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def next(rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One micro-batch as the write path receives it, and what it must do. */
final case class Batch(id: Int, lines: IndexedSeq[String], updated: Int) {
  /** Lines the parser accepts and the ban gate lets through. */
  def accepted(banned: String => Boolean): IndexedSeq[(String, Int)] =
    lines.flatMap(Batch.parse).filterNot(p => banned(p._1))
}

object Batch {
  private val nameOk = java.util.regex.Pattern.compile("[-_0-9a-zA-Z.]*")

  /** The generator's own statement of which lines are valid: it only
    * needs to recognise the rejection cases it writes (`Gen.Malformed`).
    */
  def parse(line: String): Option[(String, Int)] = line.split(" ") match {
    case Array(m, v, t) =>
      val valid = m.split("\\.", -1).length >= 2 && !m.contains("..") && m.length >= 5 &&
        nameOk.matcher(m).matches() && v.toDoubleOption.exists(x => !x.isNaN && !x.isInfinite) &&
        t.toIntOption.exists(_ > 0)
      if (valid) Some((m, t.toInt)) else None
    case _ => None
  }
}

/** A read against the dashboard store. `kind` picks the facade call:
  * exact/glob/fanout/hidden are `metricData`, browse is `search`,
  * cached is `searchCached`, refresh is `refreshSearchCache`.
  */
final case class Request(id: Int, kind: String, patterns: Seq[String], start: Int, end: Int) {
  def isMetricData: Boolean = Request.MetricDataKinds(kind)
}

object Request {
  val MetricDataKinds: Set[String] = Set("exact", "glob", "fanout", "hidden")

  /** One block of the dashboard mix as (kind, time window), served in this
    * order by every seed: 14 `metricData` reads (6 exact, 4 glob, 2
    * fan-out, 2 banned or unknown) over the recent, 4-day, 8-day and
    * spanning windows, 4 browses, a cached browse and a trie refresh.
    * The seed picks names and offsets, so every run serves the same mix.
    */
  val Block: IndexedSeq[(String, String)] = IndexedSeq(
    "exact" -> "recent", "browse" -> "", "glob" -> "recent", "exact" -> "mid", "fanout" -> "recent",
    "hidden" -> "recent", "exact" -> "old", "browse" -> "", "glob" -> "mid", "exact" -> "recent",
    "cached" -> "", "exact" -> "span", "glob" -> "old", "browse" -> "", "hidden" -> "mid",
    "fanout" -> "old", "exact" -> "recent", "refresh" -> "", "glob" -> "recent", "browse" -> "")
}

/** Sizes of the dashboard store. */
final case class StoreSize(services: Int, hosts: Int, fiveMinServices: Int, coldGroups: Int,
                           coldPerGroup: Int, banned: Int, windowMinutes: Int)

/** The dashboard store: hot series in a recent, a 4-day-old and an
  * 8-day-old window (the last crosses the one_min 7-day 60 s -> 300 s
  * step), cold names that only grow the tree, and banned names.
  */
final class StoreGen(seed: Long, val size: StoreSize) {
  import Gen._
  private val rnd = new SplittableRandom(seed)

  val hot: IndexedSeq[String] =
    for (s <- 0 until size.services; h <- 0 until size.hosts; k <- Kinds)
      yield f"one_min.s$s%02d.h$h%03d.$k"
  val hotFive: IndexedSeq[String] =
    for (s <- 0 until size.fiveMinServices; h <- 0 until size.hosts; k <- Kinds)
      yield f"five_min.s$s%02d.h$h%03d.$k"
  val cold: IndexedSeq[String] =
    for (g <- 0 until size.coldGroups; n <- 0 until size.coldPerGroup) yield f"one_min.c$g%02d.n$n%04d"
  val banned: IndexedSeq[String] = (0 until size.banned).map(i => f"one_min.banned.b$i%02d")

  /** Window starts: [start, start + windowMinutes). */
  val recentStart: Int = Anchor - size.windowMinutes * 60
  val midStart: Int = Anchor - 4 * Day + 2 * 3600
  val oldStart: Int = Anchor - 8 * Day + 2 * 3600
  private val windows = Seq(recentStart, midStart, oldStart)

  /** Deduped model of what the store holds: metric -> ts -> value. */
  val model: mutable.HashMap[String, mutable.HashMap[Int, Double]] = mutable.HashMap.empty

  private def series(metric: String, spacing: Int): IndexedSeq[String] =
    for {
      w <- windows.toIndexedSeq
      ts <- w until (w + size.windowMinutes * 60) by spacing
      if rnd.nextInt(100) >= 3 // ~3% gaps, filled with nulls on read
    } yield {
      val v = value(rnd)
      model.getOrElseUpdate(metric, mutable.HashMap.empty)(ts) = v
      line(metric, v, ts)
    }

  /** Setup batch 1: every series point, one point per cold and banned
    * name. Batch 2: corrections of ~3% of the hot points, which
    * must win by their later `updated`.
    */
  val setupBatches: IndexedSeq[Batch] = {
    val first = hot.flatMap(series(_, 60)) ++ hotFive.flatMap(series(_, 300)) ++
      (cold ++ banned).map { m =>
        val ts = recentStart + 60 * rnd.nextInt(size.windowMinutes)
        val v = value(rnd)
        model.getOrElseUpdate(m, mutable.HashMap.empty)(ts) = v
        line(m, v, ts)
      }
    val corrections = for {
      m <- hot
      (ts, v) <- model(m).toSeq.sortBy(_._1)
      if rnd.nextInt(100) < 3
    } yield {
      val nv = v + 0.5
      model(m)(ts) = nv
      line(m, nv, ts)
    }
    IndexedSeq(Batch(0, first, Anchor - 2 * Day), Batch(1, corrections, Anchor - 2 * Day + 1))
  }

  /** Every metric name the store holds, with the status it has after
    * setup (banned names are BAN, everything else SIMPLE).
    */
  def metrics: IndexedSeq[String] = hot ++ hotFive ++ cold ++ banned

  private val hotZipf = new Zipf(hot.size, 1.1)

  /** `variant` counts the earlier requests of the same kind and picks
    * the shape and window length in turn, so every seed asks for the same
    * amount of work; the seed picks names and offsets.
    */
  private def window(win: String, variant: Int): (Int, Int) = {
    val len = 600 * (1 + variant % 3) // 10, 20 or 30 minutes
    def inside(w: Int) = { val s = w + 300 * rnd.nextInt((size.windowMinutes * 60 - len) / 300 + 1); (s, s + len) }
    win match {
      case "recent" => (Anchor - len, Anchor) // step 60
      case "mid" => inside(midStart)         // 4 days old: step 60
      case "old" => inside(oldStart)         // 8 days old: step 300, compacted
      case _ => (oldStart, Anchor)           // spans both: step 300 over 8 days
    }
  }

  private def request(id: Int, kind: String, win: String, variant: Int): Request = {
    val (start, end) = window(win, variant)
    def hotName = hot(hotZipf.next(rnd))
    val patterns: Seq[String] = kind match {
      case "exact" => Seq(hotName)
      case "glob" =>
        val n = hotName.split('.')
        variant % 3 match {
          case 0 => Seq(s"${n(0)}.${n(1)}.${n(2)}.*")
          case 1 => Seq(s"${n(0)}.${n(1)}.h00?.{cpu,mem}")
          case _ => Seq(s"{one_min,five_min}.${f"s${rnd.nextInt(size.fiveMinServices)}%02d"}.${n(2)}.*")
        }
      case "fanout" =>
        if (variant % 2 == 0) Seq(f"one_min.c${rnd.nextInt(size.coldGroups)}%02d.*")
        else Seq(s"one_min.s*.h*.${Kinds(rnd.nextInt(Kinds.size))}")
      case "hidden" =>
        Seq(banned(rnd.nextInt(banned.size)), f"one_min.unknown.u${rnd.nextInt(1000)}%03d")
      case "browse" | "cached" =>
        val s = f"s${rnd.nextInt(size.services)}%02d"
        if (variant % 2 == 0) Seq(s"one_min.$s.*") else Seq(s"one_min.$s.h00?.*")
      case "refresh" => Nil
    }
    Request(id, kind, patterns, start, end)
  }

  /** The request stream: the dashboard block, repeated. */
  def requests(n: Int): IndexedSeq[Request] = {
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    (0 until n).map { i =>
      val (kind, win) = Request.Block(i % Request.Block.size)
      seen(kind) += 1
      request(i, kind, win, seen(kind) - 1)
    }
  }
}

/** Sizes of the ingest workload. */
final case class IngestSize(treeNames: Int, hotNames: Int, batchLines: Int, batches: Int)

/** The ingest workload: a tree built in setup, then micro-batches that
  * hit a hot set, add a trickle of new names, replay, arrive late, span
  * two dates, target a banned subtree and include malformed lines.
  */
final class IngestGen(seed: Long, val size: IngestSize) {
  import Gen._
  private val rnd = new SplittableRandom(seed)

  val tree: IndexedSeq[String] = (0 until size.treeNames).map { i =>
    f"one_min.t${i % 40}%02d.g${(i / 40) % 250}%03d.m${i / 10000}%02d_$i%06d"
  }
  /** The subtree the setup bans; batches keep writing to it. */
  val BannedDir = "one_min.blocked"
  def isBanned(metric: String): Boolean = metric.startsWith(BannedDir + ".")
  val bannedSetup: IndexedSeq[String] = (0 until 4).map(i => s"$BannedDir.x$i")
  /** Names a run may ban after its timed phase, checking the trie. */
  val flips: IndexedSeq[String] = (0 until 8).map(i => f"one_min.flip.f$i%02d")

  /** The tree arrives in two batches (nine tenths, then the rest), so
    * set-up runs both the first-batch and the existing-tree branch of the
    * write path.
    */
  val setupBatches: IndexedSeq[Batch] = {
    val all = (tree ++ bannedSetup ++ flips).map(m => line(m, value(rnd), Anchor - 3600))
    val (a, b) = all.splitAt(all.size * 9 / 10)
    IndexedSeq(Batch(0, a, Anchor - Day), Batch(1, b, Anchor - Day + 1))
  }

  private val hotZipf = new Zipf(size.hotNames, 1.1)
  private val hotOrder: IndexedSeq[String] = {
    val a = tree.toArray
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.take(size.hotNames).toIndexedSeq
  }

  private def hot(): String = hotOrder(hotZipf.next(rnd))

  /** Batch composition, in lines per hundred: 86 hot (timestamps half an
    * hour either side of midnight), 1 new name, 2 under the banned dir,
    * 5 replays of the previous batch, 4 late (two days back, on the
    * minute), 2 malformed.
    */
  val batches: IndexedSeq[Batch] = {
    var previous: IndexedSeq[String] = IndexedSeq.empty
    (1 to size.batches).map { b =>
      var fresh = 0
      val lines = (0 until size.batchLines).map { _ =>
        val r = rnd.nextInt(100)
        if (r < 86) line(hot(), value(rnd), Anchor - 1800 + rnd.nextInt(3600))
        else if (r < 87) { fresh += 1; line(f"one_min.new.b$b%03d.n$fresh%05d", value(rnd), Anchor + rnd.nextInt(1800)) }
        else if (r < 89) line(s"$BannedDir.x${rnd.nextInt(50)}", value(rnd), Anchor)
        else if (r < 94 && previous.nonEmpty) previous(rnd.nextInt(previous.size))
        else if (r < 98) line(hot(), value(rnd), Anchor - 2 * Day - 60 * rnd.nextInt(360))
        else Malformed(rnd.nextInt(Malformed.size))
      }
      previous = lines
      Batch(b + 1, lines, Anchor + b) // ids 0 and 1 are set-up batches
    }
  }
}
