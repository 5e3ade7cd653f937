package graft

import graft.ingest.LineParser
import graft.names.{Glob, MetricNames, MetricValidator}
import graft.query.QueryParams
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties for the pure core (SURVEY §5: property tests the
  * reference lacks).
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop, name: String): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name: $res")
  }

  test("QueryParams: alignment and point-count invariants") {
    val gen = for {
      start <- Gen.choose(1, 2000000000)
      span  <- Gen.choose(1, 10000000)
      step  <- Gen.choose(1, 86400)
      maxP  <- Gen.oneOf(Gen.const(-1), Gen.choose(1, 5000))
    } yield (start, start + span, step, maxP)
    check(Prop.forAll(gen) { case (s, e, step, maxP) =>
      val p = QueryParams.create(Seq(step), s, e, maxP)
      val aligned = p.startSeconds % p.stepSeconds == 0
      val divisible = (p.endSeconds - p.startSeconds) % p.stepSeconds == 0
      val count = p.pointCount == (p.endSeconds - p.startSeconds) / p.stepSeconds
      val bounded = maxP <= 0 || p.pointCount <= maxP
      val startNotAfter = p.startSeconds <= s
      aligned && divisible && count && bounded && startNotAfter
    }, "query params")
  }

  test("Glob: total function — never throws, Some(regex) always compiles") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      Glob.levelToRegex(s) match {
        case None => true
        case Some(re) =>
          try { java.util.regex.Pattern.compile(re); true }
          catch { case _: Exception => false }
      }
    }, "glob total")
  }

  test("Glob: literal names (no wildcards) match themselves exactly") {
    val name = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    check(Prop.forAll(name) { s =>
      Glob.levelToRegex(s).exists(re => s.matches(re))
    }, "glob literal identity")
  }

  test("Validator and LineParser: total on arbitrary input") {
    val v = MetricValidator()
    val p = new LineParser()
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      v.validate(s)     // must not throw
      p.parse(s, 1).forall(_.timestamp > 0)
    }, "parser total")
  }

  test("LineParser: generated valid lines round-trip") {
    val gen = for {
      levels <- Gen.choose(2, 6)
      parts  <- Gen.listOfN(levels, Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))
      value  <- Gen.choose(-1e9, 1e9)
      ts     <- Gen.choose(1, 2000000000)
    } yield (parts.mkString("."), value, ts)
    val p = new LineParser()
    check(Prop.forAll(gen) { case (name, value, ts) =>
      p.parse(s"$name $value $ts", 7) match {
        case Some(m) =>
          m.metric == name && m.value == value && m.timestamp == ts && m.updated == 7
        case None =>
          // only legitimately rejected shapes: too short or too long
          name.length < 5 || name.length > 500
      }
    }, "line round-trip")
  }

  test("LineParser: non-finite values, non-positive and millisecond timestamps rejected") {
    val p = new LineParser()
    val name = Gen.choose(2, 6).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(4, Gen.alphaNumChar).map(_.mkString))).map(_.mkString("."))
    val badValue = Gen.oneOf("NaN", "Infinity", "-Infinity", "+Infinity")
    val badTs = Gen.oneOf(
      Gen.choose(Long.MinValue / 2, 0L).map(_.toString),            // negative or zero
      Gen.choose(1000000000L, 2000000000L).map(s => (s * 1000).toString), // milliseconds
      Gen.choose(-1e12, 0.4).map(_.toString))                        // rounds to <= 0
    check(Prop.forAll(name, Gen.choose(-1e9, 1e9), badValue, badTs, Gen.choose(1, 2000000000)) {
      (n, v, bv, bt, ts) =>
        p.parse(s"$n $bv $ts", 1).isEmpty && p.parse(s"$n $v $bt", 1).isEmpty
    }, "rejected values and timestamps")
  }

  test("LineParser: CR/LF endings parse like none; malformed UTF-8 never does") {
    val p = new LineParser()
    val gen = for {
      levels <- Gen.choose(2, 6)
      parts  <- Gen.listOfN(levels, Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))
      value  <- Gen.choose(-1e9, 1e9)
      ts     <- Gen.choose(1, 2000000000)
      end    <- Gen.oneOf("\r", "\n", "\r\n")
      at     <- Gen.choose(0, 100)
    } yield (parts.mkString("."), value, ts, end, at)
    check(Prop.forAll(gen) { case (name, value, ts, end, at) =>
      val line = s"$name $value $ts"
      // a name holding a byte sequence that is not UTF-8, decoded as the
      // source decodes it (U+FFFD)
      val i = at % name.length
      val bytes = name.substring(0, i).getBytes("UTF-8") ++ Array(0xC3.toByte, 0x28.toByte) ++
        name.substring(i).getBytes("UTF-8")
      val broken = new String(bytes, "UTF-8")
      p.parse(line + end, 3) == p.parse(line, 3) && p.parse(s"$broken $value $ts", 3).isEmpty
    }, "line endings and malformed UTF-8")
  }

  test("MetricNames: parent/level consistency") {
    val gen = Gen.choose(2, 8).flatMap(n =>
      Gen.listOfN(n, Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)))
    check(Prop.forAll(gen) { parts =>
      val name = parts.mkString(".")
      val parent = MetricNames.parent(name)
      val prefixOk = name.startsWith(parent.stripSuffix("."))
      val levelOk = MetricNames.level(name) == parts.length
      val parentLevelOk = parent.isEmpty || MetricNames.level(parent) == parts.length - 1
      val lastOk = MetricNames.lastLevel(name) == parts.last
      prefixOk && levelOk && parentLevelOk && lastOk
    }, "name ops")
  }
}
