package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Differential-fuzzing fixture generator (the r11 verdict's top
  * mandate): seeded ADVERSARIAL replicas of the ten fixture tables,
  * schema-identical to `/root/testdata` (Tables.schemas) so every
  * `SparkEntry.queries` builder and every `oracleSql` mirror runs on
  * them unchanged — the same Spark-vs-DuckDB parity gate, but over data
  * the fixed fixtures never exercise.
  *
  * Hostile regimes, drawn per seed: massive value ties (two-point price
  * distributions), 90 %-one-key skew, null keys/balances/names, unicode
  * (CJK, emoji, combining accents, case-mapping traps) in every string
  * column, orphan foreign keys, empty and 300-word documents, repeated
  * single-token texts, same-microsecond event bursts, duplicate
  * embedding vectors, single-day and seven-year date spans.
  *
  * Viability floor: each table also carries a small deterministic floor
  * — every categorical domain value present a few times, ≥ 2 distinct
  * measure values per statistical group, ≥ 3 distinct order days, ≥ 2
  * events for a few users — so statistics whose DESIGN assumes a
  * populated contrast (Mann–Whitney's two groups, ANOVA's k groups,
  * survival's censor horizon) stay well-defined and the parity compare
  * proves values, not NaN-vs-NULL conventions. Everything beyond the
  * floor is unconstrained. The floor is part of the harness contract,
  * documented here, mirrored by nothing else.
  *
  * Usage: `scripts/run.sh graft.Fuzz <seed> <outDir>` then point
  * `graft.Verify` + `scripts/precheck.py` at the dir (scripts/fuzz.sh
  * automates it); FuzzParitySpec drives the in-suite subset.
  */
object Fuzz {
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  val langs = Seq("de", "en", "es", "fr", "zh")
  val returnFlags = Seq("A", "N", "R")
  val lineStatuses = Seq("F", "O")
  val orderStatuses = Seq("F", "O", "P")
  val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL")

  private val asciiVocab = Seq("data", "spark", "query", "join", "shuffle",
    "vector", "token", "model", "train", "batch", "stream", "window", "hash",
    "index", "merge", "scan", "filter", "group", "order", "limit", "cloud",
    "node", "edge", "graph", "text", "word", "count", "score", "rank", "page")
  /** Unicode pool: CJK, emoji (surrogate pair), combining accents,
    * ligatures, sharp-s. U+0130 İ is deliberately ABSENT — seed-1 triage
    * found `lower('İ')` is a real cross-engine divergence (Spark maps it
    * to i + combining dot above U+0307 per full Unicode case mapping;
    * DuckDB 1.0 maps it to bare `i`), so any lower()-ing query (q94's
    * golden record) hash-diverges on it. Documented engine-semantics
    * difference, excluded from generation by construction. */
  private val unicodeVocab = Seq("naïve", "zürich", "東京", "🚀rocket",
    "café", "istanbul", "straße", "ápex", "ω-3", "ナルト", "mañana", "ﬁn")

  private def ts(epochMicros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(epochMicros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(epochMicros, 1000000L) * 1000L).toInt)
    t
  }
  private val day0Orders = 788918400000000L // 1995-01-01 UTC, µs
  private val day0Events = 1704067200000000L // 2024-01-01 UTC, µs
  private val dayUs = 86400000000L

  /** Two-decimal positive price from the seed's regime. */
  private def price(rng: Random, regime: Int): Double = regime match {
    case 0 => if (rng.nextBoolean()) 100.0 else 250.5 // two-point ties
    case 1 => // zipf-ish integer grid, heavy head
      math.floor(math.pow(10.0, 2 + 4 * math.pow(rng.nextDouble(), 3))) / 1.0
    case 2 => Seq(19.99, 5.0, 5.0, 750.25, 19.99, 1200.0)(rng.nextInt(6))
    case _ => math.floor(rng.nextDouble() * 1e6 * 100) / 100 + 0.01
  }

  private def word(rng: Random, unicode: Boolean): String =
    if (unicode && rng.nextInt(3) == 0)
      unicodeVocab(rng.nextInt(unicodeVocab.size))
    else asciiVocab(rng.nextInt(asciiVocab.size))

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val rng = new Random(seed)
    val priceRegime = rng.nextInt(4)
    val dateRegime = rng.nextInt(3) // 0: 3 days, 1: 30 days, 2: 7 years
    val custRegime = rng.nextInt(3) // 0: uniform, 1: hot key, 2: zipf
    val unicodeDocs = rng.nextBoolean()

    val nCust = 100
    val nPart = 100
    val nOrders = Seq(120, 500, 1200)(rng.nextInt(3))
    val spanDays = Seq(3, 30, 2400)(dateRegime)

    def orderDay(): Long = dateRegime match {
      case 0 => rng.nextInt(3).toLong
      case 1 => rng.nextInt(30).toLong
      case _ => (math.pow(rng.nextDouble(), 2) * spanDays).toLong
    }
    def custKey(): Long = custRegime match {
      case 0 => 1L + rng.nextInt(nCust)
      case 1 => if (rng.nextInt(10) < 9) 1L else 1L + rng.nextInt(nCust)
      case _ => 1L + math.min(nCust - 1,
        math.floor(math.pow(rng.nextDouble(), 4) * nCust)).toLong
    }

    // ---- customer: segments floor, unicode/null names, hostile balances
    val customers = (1 to nCust).map { i =>
      val seg = if (i <= 10) segments(i % 5)
      else segments(math.min(4, rng.nextInt(12))) // skew beyond the floor
      val name =
        if (i > 20 && rng.nextInt(25) == 0) null
        else if (rng.nextInt(5) == 0)
          s"${unicodeVocab(rng.nextInt(unicodeVocab.size))}#$i"
        else f"Customer#$i%09d"
      val bal =
        if (i > 20 && rng.nextInt(20) == 0) null
        else java.lang.Double.valueOf(
          math.floor((rng.nextDouble() * 2000 - 500) * 100) / 100)
      // a few orphan nation keys: referential-integrity screens should
      // see real orphans, not vacuously pass
      val nk = if (rng.nextInt(30) == 0) 99 else rng.nextInt(25)
      Row(i.toLong, name, nk, bal, seg)
    }

    // ---- orders: priority floor (3 per value, distinct prices, 3 days,
    // custkeys 1..10 so every segment owns floor orders), hostile rest
    val floorOrders = priorities.zipWithIndex.flatMap { case (p, pi) =>
      (0 until 3).map { j =>
        val idx = pi * 3 + j
        Row(900000L + idx, 1L + idx % 10, orderStatuses(idx % 3),
          950.0 + idx * 13.57, ts(day0Orders + (idx % 3) * dayUs +
            idx * 3600000000L), p)
      }
    } ++ Seq(
      // design-contrast floor (seed-1 triage): queries whose DESIGN
      // splits orders at 1999-01-01 (q146 PSI, q147 KS), at monthly
      // granularity (q221 Gumbel needs ≥ 2 months with distinct
      // maxima), or at the 200k high-value line (q229/q234 outcomes)
      // assume the fixture's 1995–2001 span and value range. Keep each
      // contrast populated on every seed so the statistics stay real,
      // not vacuous, whatever regime the seed draws.
      Row(900100L, 2L, "F", 250000.25, ts(day0Orders + 1626L * dayUs),
        "1-URGENT"),
      Row(900101L, 5L, "O", 310000.50, ts(day0Orders + 1835L * dayUs),
        "5-LOW"),
      Row(900102L, 7L, "P", 120.75, ts(day0Orders + 2225L * dayUs),
        "2-HIGH"),
      Row(900103L, 4L, "F", 205001.00, ts(day0Orders + 1650L * dayUs),
        "5-LOW"),
      Row(900104L, 9L, "O", 98765.43, ts(day0Orders + 1900L * dayUs),
        "1-URGENT"))
    val restOrders = (1 to nOrders).map { i =>
      val pri = if (rng.nextInt(10) < 6) priorities(0)
      else priorities(rng.nextInt(5))
      Row(i.toLong, custKey(), orderStatuses(rng.nextInt(3)),
        price(rng, priceRegime), ts(day0Orders + orderDay() * dayUs +
          rng.nextInt(24).toLong * 3600000000L), pri)
    }
    val orders = restOrders ++ floorOrders

    // ---- lineitem: FKs mostly valid with a few orphans, tie-heavy
    val orderKeys = orders.map(_.getLong(0)).toArray
    val lineitems = (1 to (nOrders * 2)).flatMap { i =>
      val ok = if (rng.nextInt(40) == 0) 7777770L + rng.nextInt(5)
      else orderKeys(rng.nextInt(orderKeys.length))
      val nLines = 1 + rng.nextInt(3)
      (1 to nLines).map { ln =>
        Row(ok, 1L + rng.nextInt(nPart + 3), 1L + rng.nextInt(10), ln,
          (1 + rng.nextInt(50)).toDouble, price(rng, priceRegime),
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          returnFlags(rng.nextInt(3)), lineStatuses(rng.nextInt(2)),
          ts(day0Orders + (orderDay() + rng.nextInt(90)) * dayUs))
      }
    }

    // ---- part / supplier / nation / region
    // p_name stays ASCII (heavily duplicated — hostile for the blocked
    // fuzzy self-joins): Spark's levenshtein counts CODEPOINTS while
    // DuckDB 1.0's counts BYTES, so any multi-byte character in a
    // levenshtein-thresholded query (q48/q163) shifts distances and
    // legitimately changes the result set — a documented cross-engine
    // divergence (r12 fuzz seed-3 find), excluded by construction like
    // the İ case above. documents.text keeps full unicode: the hash/
    // token kernels are codepoint-faithful on both engines.
    val parts = (1 to nPart).map { i =>
      Row(i.toLong, s"${word(rng, unicode = false)} widget",
        s"Brand#${1 + rng.nextInt(5)}", partTypes(rng.nextInt(5)),
        1 + rng.nextInt(50), math.floor(rng.nextDouble() * 2000 * 100) / 100)
    }
    val suppliers = (1 to 10).map { i =>
      Row(i.toLong, s"Supplier#$i", rng.nextInt(25),
        math.floor((rng.nextDouble() * 9000 - 1000) * 100) / 100)
    }
    val nations = (0 until 25).map { i =>
      Row(i, s"NATION_$i", i % 5)
    }
    val regions = (0 until 5).map(i => Row(i, s"REGION_$i"))

    // ---- events: user floor (5 users × 4 events over 3 days, all five
    // types), then bursts of same-µs ties, null users, hostile values
    val floorEvents = (0 until 5).flatMap { u =>
      (0 until 4).map { j =>
        Row(800000L + u * 4 + j, ts(day0Events + (j % 3) * dayUs +
          u * 7200000000L + j * 60000000L), u.toLong,
          eventTypes((u + j) % 5), 1.5 * (j + 1), s"""{"k": ${u * 4 + j}}""")
      }
    }
    val nEvents = 400 + rng.nextInt(600)
    val restEvents = (1 to nEvents).map { i =>
      val uid: java.lang.Long =
        if (rng.nextInt(5) == 0) null
        else java.lang.Long.valueOf(rng.nextInt(30).toLong)
      // burst regime: 1 in 8 events lands on an exact shared microsecond
      val t = if (rng.nextInt(8) == 0) day0Events + 12L * 3600000000L
      else day0Events + rng.nextInt(29).toLong * dayUs +
        rng.nextLong(dayUs)
      val v = rng.nextInt(4) match {
        case 0 => 0.0
        case 1 => -5.25
        case 2 => 10.0
        case _ => math.floor(rng.nextDouble() * 1000 * 100) / 100
      }
      val props = if (rng.nextInt(6) == 0)
        s"""{"k": ${rng.nextInt(100)}, "täg": "東京"}"""
      else s"""{"k": ${rng.nextInt(100)}}"""
      Row(i.toLong, ts(t), uid, eventTypes(rng.nextInt(5)), v, props)
    }
    val events = restEvents ++ floorEvents

    // ---- documents: lang/source floor, then empty / repeated-token /
    // unicode / long styles
    val floorDocs = langs.zipWithIndex.flatMap { case (l, li) =>
      (0 until 3).map { j =>
        val txt = (0 until 8).map(k => asciiVocab((li * 3 + j + k) % 30))
          .mkString(" ")
        Row(700000L + li * 3 + j, txt, l, s"src${j % 3}",
          txt.codePointCount(0, txt.length).toLong)
      }
    }
    val nDocs = 150
    val restDocs = (1 to nDocs).map { i =>
      val style = rng.nextInt(10)
      val txt = style match {
        case 0 => "" // empty
        case 1 => Seq.fill(1 + rng.nextInt(40))("echo").mkString(" ")
        case 2 => (0 until 300).map(_ => word(rng, unicodeDocs)).mkString(" ")
        case _ => (0 until 3 + rng.nextInt(25))
          .map(_ => word(rng, unicodeDocs)).mkString(" ")
      }
      val lang = if (rng.nextInt(10) < 6) "en" else langs(rng.nextInt(5))
      Row(i.toLong, txt, lang, s"src${rng.nextInt(10)}",
        txt.codePointCount(0, txt.length).toLong)
    }
    val documents = restDocs ++ floorDocs

    // ---- embeddings: gaussian 64-d, ~10 % duplicates of vector 1
    val dim = 64
    val base = Array.fill(dim)(rng.nextGaussian().toFloat)
    val embeddings = (1 to 200).map { i =>
      val v = if (i > 1 && rng.nextInt(10) == 0) base.clone()
      else Array.fill(dim)(rng.nextGaussian().toFloat)
      Row(i.toLong, v.toSeq, i % 10)
    }

    val data: Seq[(String, Seq[Row])] = Seq(
      "customer" -> customers, "orders" -> orders, "lineitem" -> lineitems,
      "part" -> parts, "supplier" -> suppliers, "nation" -> nations,
      "region" -> regions, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)

    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    data.foreach { case (name, rows) =>
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), Tables.schemas(name))
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val dir = args(1)
    val spark = LocalSession(cores = 4)
    generate(spark, seed, dir)
    println(s"[fuzz] wrote adversarial fixture seed=$seed to $dir")
    spark.stop()
  }
}
