package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Each writes one workload's inputs under `dir`
  * together with the results the program must produce on them, computed
  * here in plain Scala from the rows as they are planted — never by
  * calling the program. The same seed always writes the same files.
  *
  * Usage: Gen <sales_nightly|llm_curation|stream_ingest> <seed> <dir>
  */
object Gen {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, dir) = args
    new File(dir).mkdirs()
    val rng = new SplittableRandom(seed.toLong)
    workload match {
      case "sales_nightly" => SalesGen.write(rng, dir)
      case "llm_curation" => CorpusGen.write(rng, dir)
      case "stream_ingest" => EventGen.write(rng, dir)
      case other => sys.error(s"unknown workload $other")
    }
  }

  def writer(path: String): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), UTF_8), 1 << 16)

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    val w = writer(path)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def writeProps(path: String, kv: (String, Any)*): Unit =
    writeLines(path, kv.map { case (k, v) => s"$k=$v" })
}

/** A directory of dated sales CSVs in the reference's input domain
  * (FIXTURES.md §1): null, lowercase and duplicate `Sale_ID`s, padded
  * dash products, USD/EUR suffix, prefix and bare amounts, null amounts,
  * garbage and null dates, and one file with a non-date stem.
  *
  * Expected results follow the reference's rules: keep-first by
  * (file name, row) per upper-cased `Sale_ID` before any other filter;
  * product = last `-` token of the trimmed upper-cased string; amount =
  * the string with every USD/EUR removed, times 0.85 when the original
  * ends in EUR, rounded half-even to cents; rows with a null or garbage
  * date or a non-date file stem are dropped. Invalid rows get one reason,
  * N (null amount, date or audit date) before A (no currency) before D
  * (`Sale_ID` shared by two or more rows that passed N and A).
  */
object SalesGen {
  val Rows = 60000
  val DatedFiles = 30
  private val cats = Array("electronics", "office", "home", "garden")
  private val prods = Array("laptop", "phone", "tablet", "monitor", "keyboard",
    "mouse", "chair", "desk", "lamp", "printer")

  private def pick[T](r: SplittableRandom, a: Array[T]): T = a(r.nextInt(a.length))

  private def product(r: SplittableRandom): String = {
    val c = pick(r, cats); val p = pick(r, prods)
    r.nextInt(100) match {
      case x if x < 1 => null
      case x if x < 45 => s"$c-$p"
      case x if x < 75 => s"  ${c.capitalize} - ${p.capitalize}  "
      case x if x < 90 => p.capitalize
      case _ => s"$c-sale-$p"
    }
  }

  private def amount(r: SplittableRandom): String = {
    val cents = 1 + r.nextInt(250000)
    val s = f"${cents / 100}.${cents % 100}%02d"
    r.nextInt(100) match {
      case x if x < 30 => s"$s USD"
      case x if x < 50 => s"$s EUR"
      case x if x < 60 => s"${s}EUR"
      case x if x < 68 => s"EUR $s"
      case x if x < 86 => s
      case x if x < 90 => s"USD $s"
      case x if x < 95 => null
      case _ => s"${s}USD"
    }
  }

  private def date(r: SplittableRandom): String = r.nextInt(100) match {
    case x if x < 3 => "not-a-date"
    case x if x < 4 => "TBD"
    case x if x < 6 => null
    case _ => LocalDate.of(2023, 1, 1).plusDays(r.nextInt(3 * 365)).toString
  }

  private def csvField(s: String): String = if (s == null) "" else s

  def write(r: SplittableRandom, dir: String): Unit = {
    val in = new File(dir, "sales"); in.mkdirs()
    val start = LocalDate.of(2024, 1, 1).plusDays(r.nextInt(300))
    val stems = (0 until DatedFiles).map(i => start.plusDays(i).toString) :+ "notes"
    // ~2% of the rows go to the non-date-stem file
    val sizes = stems.map(s => if (s == "notes") Rows / 50 else (Rows - Rows / 50) / DatedFiles)
    val ids = new Array[Long](sizes.sum)

    // expected results, accumulated in ingestion order (file name, row)
    val seen = mutable.HashSet.empty[String]
    var validRows = 0L
    var validCents = 0L
    val groups = mutable.HashMap.empty[(String, String), (Long, Long)]
    var n = 0L; var a = 0L
    val passedNA = mutable.HashMap.empty[String, Int]
    var row = 0
    stems.zip(sizes).sortBy(_._1).foreach { case (stem, size) =>
      val w = Gen.writer(s"${in.getPath}/$stem.csv")
      w.write("Sale_ID,Product,Amount,Date\n")
      val audit = stem != "notes"
      (0 until size).foreach { _ =>
        // ~8% of rows reuse an earlier row's id, within or across files
        ids(row) = if (row > 0 && r.nextInt(100) < 8) ids(r.nextInt(row))
          else (row.toLong * 0x9E3779B1L) & 0xFFFFFFFFL
        row += 1
        val sid =
          if (r.nextInt(100) < 1) null
          else {
            val hex = f"${ids(row - 1)}%08x"
            if (r.nextInt(10) < 3) hex.toUpperCase else hex
          }
        val prod = product(r); val amt = amount(r); val dt = date(r)
        w.write(s"${csvField(sid)},${csvField(prod)},${csvField(amt)},${csvField(dt)}\n")

        // valid flow: keep-first per upper-cased id, then the filters
        if (sid != null && seen.add(sid.toUpperCase)) {
          val p = if (prod == null) None else Some(prod.trim.toUpperCase.split("-", -1).last)
          val v = if (amt == null) None else
            amt.replaceAll("USD|EUR", "").trim.toDoubleOption.map { x =>
              Math.rint((if (amt.endsWith("EUR")) x * 0.85 else x) * 100) / 100
            }
          val d = Option(dt).flatMap(s => scala.util.Try(LocalDate.parse(s)).toOption)
          for (pv <- p; av <- v; dv <- d if audit) {
            val c = Math.round(av * 100)
            validRows += 1; validCents += c
            val k = (f"${dv.getMonthValue}%02d/${dv.getYear}", pv)
            val (gn, gc) = groups.getOrElse(k, (0L, 0L))
            groups(k) = (gn + 1, gc + c)
          }
        }
        // invalid flow
        if (amt == null || dt == null || !audit) n += 1
        else if (!(amt.toUpperCase.contains("USD") || amt.toUpperCase.contains("EUR"))) a += 1
        else {
          val key = if (sid == null) "NAN" else sid.toUpperCase
          passedNA(key) = passedNA.getOrElse(key, 0) + 1
        }
      }
      w.close()
    }
    val d = passedNA.valuesIterator.filter(_ > 1).map(_.toLong).sum
    Gen.writeProps(s"$dir/expected.properties",
      "valid_rows" -> validRows, "valid_cents" -> validCents,
      "invalid_N" -> n, "invalid_A" -> a, "invalid_D" -> d, "input_rows" -> row)
    Gen.writeLines(s"$dir/expected_summary.tsv",
      groups.toSeq.sortBy(_._1).map { case ((m, p), (gn, gc)) => s"$m\t$p\t$gn\t$gc" })
  }
}

/** A corpus shaped like the sf0.1 `documents` and `embeddings` tables
  * (30-word vocabulary, 8–100-word documents, 64-dim vectors in about
  * ±0.4, 10 labels), with planted exact copies and planted
  * near-duplicate families.
  *
  * Vector components are multiples of 1/256, exact in float, double and
  * decimal text, so the program's `floor(x * 1000)` quantization is the
  * same here and in Spark. Expected results: the set of first (lowest)
  * `doc_id`s per distinct text, the planted (base, variant) pairs with
  * their 3-shingle Jaccard, and the brute-force top-k per query over the
  * quantized vectors (dot descending, then `vec_id`, self excluded).
  */
object CorpusGen {
  val Vocab = Array("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge", "data",
    "the", "customer", "join", "vector")
  val UniqueDocs = 800
  val Families = 60
  val ExactCopies = 60
  val Vectors = 1000
  val Dim = 64
  val Queries = 10
  val K = 5
  val Labels = 10

  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(x: Set[String], y: Set[String]): Double = {
    val i = (x intersect y).size
    i.toDouble / (x.size + y.size - i)
  }

  private def randomText(r: SplittableRandom, lo: Int, hi: Int): Array[String] =
    Array.fill(lo + r.nextInt(hi - lo + 1))(Vocab(r.nextInt(Vocab.length)))

  /** A variant of `base` with 1–3 word substitutions whose Jaccard with
    * the base lies in [0.8, 0.97], so the default MinHash banding
    * (4 bands of 3 rows) finds it with probability ≥ 0.94.
    */
  private def variant(r: SplittableRandom, base: Array[String]): String = {
    val bs = shingles(base.mkString(" "))
    Iterator.continually {
      val v = base.clone()
      (0 until 1 + r.nextInt(3)).foreach(_ => v(r.nextInt(v.length)) = Vocab(r.nextInt(Vocab.length)))
      v.mkString(" ")
    }.find { t => val j = jaccard(bs, shingles(t)); j >= 0.8 && j <= 0.97 }.get
  }

  def write(r: SplittableRandom, dir: String): Unit = {
    // (text, family id or -1, is-base)
    val docs = mutable.ArrayBuffer.empty[(String, Int, Boolean)]
    val uniques = (0 until UniqueDocs).map(_ => randomText(r, 8, 100).mkString(" "))
    uniques.foreach(t => docs += ((t, -1, false)))
    (0 until Families).foreach { f =>
      val base = randomText(r, 40, 100)
      docs += ((base.mkString(" "), f, true))
      val seen = mutable.HashSet(base.mkString(" "))
      (0 until 2 + r.nextInt(2)).foreach { _ =>
        val t = variant(r, base)
        if (seen.add(t)) docs += ((t, f, false))
      }
    }
    (0 until ExactCopies).foreach(_ => docs += ((uniques(r.nextInt(UniqueDocs)), -1, false)))
    // shuffle so copies and family members get unrelated ids
    val order = docs.indices.toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val byId = order.map(docs) // doc_id = position
    val langs = Array("en", "en", "en", "de", "fr", "es", "zh")
    Gen.writeLines(s"$dir/documents.csv", "doc_id,text,lang,source,n_chars" +:
      byId.indices.map { id =>
        val t = byId(id)._1
        s"$id,$t,${langs(r.nextInt(langs.length))},src${r.nextInt(20)},${t.length}"
      })

    val keepers = byId.indices.groupBy(i => byId(i)._1).values.map(_.min).toSeq.sorted
    Gen.writeLines(s"$dir/expected_keepers.tsv", keepers.map(_.toString))
    val planted = byId.indices.filter(i => byId(i)._2 >= 0).groupBy(i => byId(i)._2).values
      .flatMap { members =>
        val base = members.find(i => byId(i)._3).get
        members.filter(_ != base).map { v =>
          val (a, b) = (math.min(base, v), math.max(base, v))
          f"$a\t$b\t${jaccard(shingles(byId(a)._1), shingles(byId(b)._1))}%.6f"
        }
      }.toSeq.sorted
    Gen.writeLines(s"$dir/expected_planted.tsv", planted)

    // clustered vectors: label centre + small noise, components k/256
    val centres = Array.fill(Labels, Dim)(r.nextInt(121) - 60)
    val vecs = Array.tabulate(Vectors) { _ =>
      val l = r.nextInt(Labels)
      (l, centres(l).map(c => math.max(-100, math.min(100, c + r.nextInt(41) - 20))))
    }
    Gen.writeLines(s"$dir/embeddings.json", vecs.indices.map { id =>
      val (l, v) = vecs(id)
      s"""{"vec_id":$id,"embedding":[${v.map(k => (k / 256.0).toString).mkString(",")}],"label":$l}"""
    })
    val queries = Iterator.continually(r.nextInt(Vectors)).distinct.take(Queries).toSeq.sorted
    Gen.writeLines(s"$dir/queries.tsv", queries.map(_.toString))
    val quant = vecs.map(_._2.map(k => math.floor(k / 256.0 * 1000).toLong))
    def dot(a: Int, b: Int): Long = {
      var s = 0L; var i = 0
      while (i < Dim) { s += quant(a)(i) * quant(b)(i); i += 1 }
      s
    }
    Gen.writeLines(s"$dir/expected_topk.tsv", queries.flatMap { q =>
      vecs.indices.filter(_ != q).map(v => (v, dot(q, v)))
        .sortBy { case (v, d) => (-d, v) }.take(K).zipWithIndex
        .map { case ((v, d), i) => s"$q\t${i + 1}\t$v\t$d" }
    })
  }
}

/** Click-stream events with the columns of the sf0.1 `events` table
  * (200 users, five event types, 30 days, about 15k events), generated as
  * bursts: events 1–20 minutes apart inside a visit, visits 3–83 hours apart,
  * and 1 in 8 in-visit gaps drawn from 25–35 minutes so the 30-minute
  * session rule is exercised on both sides. Every timestamp is unique.
  *
  * Expected results: the sessions of every user under the 30-minute gap
  * rule (a gap of more than 30 minutes starts a new session) and the
  * latest event per user (last writer wins).
  */
object EventGen {
  val Users = 200
  val Days = 30
  val Start = LocalDate.of(2024, 1, 1)
  val BatchDays = 10
  private val types = Array("view", "click", "purchase", "signup", "error")
  private val GapMicros = 30L * 60 * 1000000

  def write(r: SplittableRandom, dir: String): Unit = {
    val t0 = Start.toEpochDay * 86400L * 1000000
    val end = t0 + Days * 86400L * 1000000
    val minute = 60L * 1000000
    val used = mutable.HashSet.empty[Long]
    // (ts, user, type, cents)
    val events = mutable.ArrayBuffer.empty[(Long, Int, String, Int)]
    (0 until Users).foreach { u =>
      var t = t0 + (r.nextDouble() * 86400e6).toLong
      while (t < end) {
        (0 until 1 + r.nextInt(8)).foreach { _ =>
          if (t < end) {
            while (!used.add(t)) t += 1
            events += ((t, u, types(r.nextInt(types.length)), 1 + r.nextInt(50000)))
          }
          val gap = if (r.nextInt(8) == 0) 25 * minute + (r.nextDouble() * 10 * minute).toLong
            else minute + (r.nextDouble() * 19 * minute).toLong
          t += (if (gap == GapMicros) gap + 1 else gap)
        }
        t += 3 * 3600L * 1000000 + (r.nextDouble() * 80 * 3600e6).toLong
      }
    }
    val sorted = events.sortBy(_._1)
    Gen.writeLines(s"$dir/events.csv", "event_id,ts_us,user_id,event_type,value" +:
      sorted.indices.map { i =>
        val (t, u, ty, c) = sorted(i)
        f"$i,$t,$u,$ty,${c / 100}.${c % 100}%02d"
      })
    val byUser = sorted.indices.groupBy(i => sorted(i)._2)
    val sessions = byUser.toSeq.sortBy(_._1).flatMap { case (u, idx) =>
      // (start, last, n, cents) per session, cents as the program sums them
      val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      idx.foreach { i =>
        val (t, _, _, c) = sorted(i)
        val cents = math.floor(s"${c / 100}.${"%02d".format(c % 100)}".toDouble * 100 + 0.5).toLong
        if (out.nonEmpty && t - out.last._2 <= GapMicros) {
          val (s, _, n, v) = out.last
          out(out.length - 1) = (s, t, n + 1, v + cents)
        } else out += ((t, t, 1L, cents))
      }
      out.map { case (s, l, n, v) => s"$u\t$s\t$l\t$n\t$v" }
    }
    Gen.writeLines(s"$dir/expected_sessions.tsv", sessions)
    Gen.writeLines(s"$dir/expected_latest.tsv", byUser.toSeq.sortBy(_._1).map { case (u, idx) =>
      val i = idx.maxBy(sorted(_)._1)
      val (t, _, ty, c) = sorted(i)
      f"$u\t$i\t$ty\t${c / 100}.${c % 100}%02d\t$t"
    })
    Gen.writeProps(s"$dir/expected.properties",
      "events" -> sorted.length, "batches" -> (Days + BatchDays - 1) / BatchDays)
  }
}
