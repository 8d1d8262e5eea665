package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.SalesJob
import graft.llm.{TextOps, VectorOps}
import graft.operators.ConnectedComponents
import graft.streaming.{EventStream, StreamHarness, UpsertSink}

/** One workload: a pass that calls the program and forces its results,
  * checks of a pass's outputs against the generator's expectations and
  * the method's properties, and one corruption per check that the check
  * must reject.
  */
trait Workload {
  type Out
  /** The timed part: calls into the program and the actions that force
    * them, returning what the program produced. */
  def pass(t: Tracer, dir: String): Out
  /** Untimed: read back what the pass wrote, in the form the checks use. */
  def load(out: Out): Out = out
  /** Check name -> failure message, or None when the check holds. */
  def checks: Seq[(String, Out => Option[String])]
  /** Check name -> a corruption of a real output that the check must reject. */
  def corruptions: Seq[(String, Out => Out)]
  /** Counts only this workload has, for the traced run. */
  def layerMetrics(out: Out): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String): Workload = name match {
    case "sales_nightly" => new SalesNightly(spark, in)
    case "llm_curation" => new LlmCuration(spark, in)
    case "stream_ingest" => new StreamIngest(spark, in)
    case other => sys.error(s"unknown workload $other")
  }

  def lines(path: String): Vector[String] = {
    val s = Source.fromFile(path, "UTF-8")
    try s.getLines().toVector finally s.close()
  }

  def props(path: String): Map[String, String] =
    lines(path).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap

  def tsv(path: String): Vector[Array[String]] = lines(path).map(_.split("\t", -1))

  def expect(ok: Boolean, msg: => String): Option[String] = if (ok) None else Some(msg)

  def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Fields of one line written by Spark's CSV writer (quotes only when a
    * field needs them). */
  def csvFields(line: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var i = 0; var quoted = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.result()
  }
}

import Workload._

/** `SalesJob.run` then `SalesJob.export` over the generated directory of
  * dated sales CSVs; checks read the three exported CSVs back. */
final class SalesNightly(spark: SparkSession, in: String) extends Workload {
  final case class Out(dir: String, validRows: Long = 0, validCents: Long = 0,
      duplicateIds: Long = 0, reasons: Map[String, Long] = Map.empty,
      summary: Map[(String, String), (Long, Long)] = Map.empty)

  private val files = Seq("Ventas_Validas_M", "Ventas_Invalidas_M", "Ventas_Resumen_Mensual")

  def pass(t: Tracer, dir: String): Out = {
    val outputs = t.span("etl.run")(SalesJob.run(spark, s"$in/sales"))
    t.span("sinks.export")(SalesJob.export(spark, outputs, dir))
    Out(dir)
  }

  /** Rows of one exported CSV as header-name -> field maps. */
  private def rows(dir: String, name: String): Iterator[Map[String, String]] = {
    val ls = lines(s"$dir/$name.csv")
    val header = csvFields(ls.head.stripPrefix("﻿"))
    ls.iterator.drop(1).map(l => header.zip(csvFields(l)).toMap)
  }

  private def cents(s: String): Long = Math.round(s.toDouble * 100)

  override def load(out: Out): Out = {
    var n = 0L; var c = 0L
    val ids = mutable.ArrayBuffer.empty[String]
    rows(out.dir, files(0)).foreach { r => n += 1; c += cents(r("Amount")); ids += r("Sale_ID") }
    val sorted = ids.sorted
    val dups = sorted.indices.drop(1).count(i => sorted(i) == sorted(i - 1)).toLong
    val reasons = rows(out.dir, files(1)).toSeq.groupBy(_("Reason")).map { case (k, v) => k -> v.size.toLong }
    val summary = rows(out.dir, files(2)).map { r =>
      (r("Mes"), r("Producto")) -> (r("Numero_Transacciones").toLong, cents(r("Ventas_Totales")))
    }.toMap
    out.copy(validRows = n, validCents = c, duplicateIds = dups, reasons = reasons, summary = summary)
  }

  private lazy val exp = props(s"$in/expected.properties")
  private lazy val expSummary = tsv(s"$in/expected_summary.tsv")
    .map(a => (a(0), a(1)) -> (a(2).toLong, a(3).toLong)).toMap

  val checks: Seq[(String, Out => Option[String])] = Seq(
    "valid_rows" -> (o => expect(o.validRows == exp("valid_rows").toLong,
      s"valid rows ${o.validRows}, expected ${exp("valid_rows")}")),
    "invalid_reasons" -> { o =>
      val want = Seq("N", "A", "D").map(k => k -> exp(s"invalid_$k").toLong).toMap
      expect(o.reasons == want, s"invalid reasons ${o.reasons}, expected $want")
    },
    "summary_groups" -> { o =>
      val bad = (o.summary.keySet ++ expSummary.keySet).filter(k => o.summary.get(k) != expSummary.get(k))
      expect(bad.isEmpty, s"${bad.size} (Mes, Producto) groups differ, e.g. ${bad.headOption
        .map(k => s"$k: ${o.summary.get(k)} vs expected ${expSummary.get(k)}")}")
    },
    "summary_adds_up" -> { o =>
      val total = o.summary.valuesIterator.map(_._2).sum
      expect(total == o.validCents && total == exp("valid_cents").toLong,
        s"summary total $total cents, valid amounts ${o.validCents}, expected ${exp("valid_cents")}")
    },
    "valid_ids_unique" -> (o => expect(o.duplicateIds == 0, s"${o.duplicateIds} repeated Sale_IDs among valid rows")))

  /** Corrupts a copy of the exported files, then reads the copy back. */
  private def edit(file: Int)(f: Vector[String] => Vector[String]): Out => Out = { o =>
    val copy = Files.createTempDirectory(Paths.get(o.dir).getParent, "corrupt-").toString
    files.foreach(n => Files.copy(Paths.get(s"${o.dir}/$n.csv"), Paths.get(s"$copy/$n.csv")))
    val p = Paths.get(s"$copy/${files(file)}.csv")
    Files.write(p, f(lines(p.toString)).asJava, UTF_8)
    load(Out(copy))
  }

  private def setField(line: String, i: Int, v: String): String =
    csvFields(line).updated(i, v).mkString(",")

  val corruptions: Seq[(String, Out => Out)] = Seq(
    "valid_rows" -> edit(0)(_.dropRight(1)),
    "invalid_reasons" -> edit(1) { ls =>
      val reason = csvFields(ls.head.stripPrefix("﻿")).indexOf("Reason")
      ls.updated(1, setField(ls(1), reason, if (csvFields(ls(1))(reason) == "N") "A" else "N"))
    },
    "summary_groups" -> edit(2)(ls => ls.updated(1, setField(ls(1), 3, "0"))),
    "summary_adds_up" -> edit(0) { ls =>
      ls.updated(1, setField(ls(1), 2, (csvFields(ls(1))(2).toDouble + 1).toString))
    },
    "valid_ids_unique" -> edit(0)(ls => ls.updated(2, setField(ls(2), 0, csvFields(ls(1))(0)))))
}

/** One LLM-data-curation pass: exact dedup, MinHash near-duplicate pairs,
  * connected components, one keeper per cluster, then exact and IVF top-k
  * for a seeded query set. Each step's result is materialized once and
  * fed to the next, as a curation pipeline does. */
final class LlmCuration(spark: SparkSession, in: String) extends Workload {
  final case class Out(kept: Vector[Long], pairs: Vector[(Long, Long, Double)],
      labels: Map[Long, Long], keepers: Vector[Long],
      topk: Vector[(Long, Int, Long, Long)], ann: Vector[(Long, Int, Long, Long)])

  private val K = CorpusGen.K
  private val NProbe = 4
  private val JaccardMin = 0.5
  /** The planted pairs have Jaccard >= 0.8, which the default banding
    * finds with probability >= 0.94 each. */
  val PlantedRecallFloor = 0.85
  /** IVF probing 4 of 50 lists on 10-cluster data; measured 1.0 on the
    * seeds tried. */
  val AnnRecallFloor = 0.8

  private def rows4(df: DataFrame): Vector[(Long, Int, Long, Long)] =
    df.collect().toVector.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))

  def pass(t: Tracer, dir: String): Out = {
    val docs = spark.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("header", "true").csv(s"$in/documents.csv")
    val (deduped, kept) = t.span("llm.exact_dedup") {
      val d = TextOps.exactDedup(docs, "text", "doc_id").localCheckpoint(eager = true)
      (d, d.select("doc_id").collect().map(_.getLong(0)).toVector.sorted)
    }
    val (pairsDf, pairs) = t.span("llm.near_dup") {
      val p = TextOps.nearDupPairs(deduped, "doc_id", "text", threshold = JaccardMin)
        .select("doc_a", "doc_b", "jaccard").localCheckpoint(eager = true)
      (p, p.collect().toVector.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    val (labelsDf, labels) = t.span("operators.cc") {
      val l = ConnectedComponents.alternatingStars(pairsDf, "doc_a", "doc_b")
      (l, l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    val keepers = t.span("llm.keepers") {
      deduped.select("doc_id").join(labelsDf.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .filter(col("label").isNull || col("label") === col("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toVector.sorted
    }
    val emb = spark.read.schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .json(s"$in/embeddings.json")
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("qv"))
    val qs = emb.filter(col("vec_id").isin(queries: _*))
    val dot = VectorOps.dotFn(spark)
    val topk = t.span("llm.topk") {
      rows4(VectorOps.topKHeap(emb, qs, "vec_id", "qv", k = K, dot = dot)
        .select("query_id", "rank", "vec_id", "dot_q"))
    }
    val ann = t.span("llm.ann") {
      val cents = emb.filter(col("vec_id") % 20 === 0)
      rows4(VectorOps.ivfTopK(emb, qs, cents, "vec_id", "qv", k = K, nProbe = NProbe, dot = dot)
        .select("query_id", "rank", "vec_id", "dot_q"))
    }
    Out(kept, pairs, labels, keepers, topk, ann)
  }

  override def layerMetrics(out: Out): Map[String, Double] =
    Map("llm.near_dup_pairs" -> out.pairs.size.toDouble)

  private lazy val queries: Seq[Long] = lines(s"$in/queries.tsv").map(_.toLong)
  private lazy val texts: Map[Long, Set[String]] = lines(s"$in/documents.csv").drop(1).map { l =>
    val f = l.split(",", -1)
    f(0).toLong -> CorpusGen.shingles(f(1))
  }.toMap
  private lazy val vectors: Map[Long, Array[Long]] = lines(s"$in/embeddings.json").map { l =>
    val id = l.drop(l.indexOf(':') + 1).takeWhile(_ != ',').toLong
    val v = l.substring(l.indexOf('[') + 1, l.indexOf(']')).split(",")
      .map(x => math.floor(x.toDouble * 1000).toLong)
    id -> v
  }.toMap
  private lazy val expKeepers = lines(s"$in/expected_keepers.tsv").map(_.toLong)
  private lazy val planted = tsv(s"$in/expected_planted.tsv").map(a => (a(0).toLong, a(1).toLong))
  private lazy val expTopk = tsv(s"$in/expected_topk.tsv")
    .map(a => (a(0).toLong, a(1).toInt, a(2).toLong, a(3).toLong))

  private def trueDot(a: Long, b: Long): Long =
    vectors(a).zip(vectors(b)).map { case (x, y) => x * y }.sum

  /** Component minimum per node, by union-find over the reported pairs. */
  private def components(pairs: Seq[(Long, Long, Double)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(n => n -> find(n)).toMap
  }

  val checks: Seq[(String, Out => Option[String])] = Seq(
    "exact_dedup" -> (o => expect(o.kept == expKeepers,
      s"${o.kept.size} documents kept by exact dedup, expected ${expKeepers.size} first copies")),
    "near_dup_jaccard" -> { o =>
      val bad = o.pairs.filter { case (a, b, j) =>
        val (x, y) = (texts(a), texts(b))
        val real = CorpusGen.jaccard(x, y)
        a >= b || real < JaccardMin || math.abs(real - j) > 1e-6
      }
      expect(bad.isEmpty, s"${bad.size} reported pairs fail the recomputed Jaccard, e.g. ${bad.head}")
    },
    "planted_recall" -> { o =>
      val found = o.pairs.map(p => (p._1, p._2)).toSet
      val recall = planted.count(found).toDouble / planted.size
      expect(recall >= PlantedRecallFloor, f"planted-pair recall $recall%.3f below $PlantedRecallFloor")
    },
    "clusters" -> { o =>
      val want = components(o.pairs)
      val wantKeepers = o.kept.filter(d => want.get(d).forall(_ == d))
      expect(o.labels == want && o.keepers == wantKeepers,
        s"components differ from union-find on ${(o.labels.keySet ++ want.keySet)
          .count(k => o.labels.get(k) != want.get(k))} nodes; ${o.keepers.size} keepers, expected ${wantKeepers.size}")
    },
    "exact_topk" -> (o => expect(o.topk == expTopk,
      s"exact top-k differs from brute force on ${o.topk.zipAll(expTopk, null, null).count(p => p._1 != p._2)} rows")),
    "ann_recall" -> { o =>
      val exact = expTopk.map(r => (r._1, r._3)).toSet
      val recall = o.ann.count(r => exact((r._1, r._3))).toDouble / expTopk.size
      val wrongDots = o.ann.count(r => trueDot(r._1, r._3) != r._4)
      expect(recall >= AnnRecallFloor && wrongDots == 0 && o.ann.size == expTopk.size,
        f"ANN recall@$K $recall%.3f (floor $AnnRecallFloor), $wrongDots wrong dot products, ${o.ann.size} rows")
    })

  val corruptions: Seq[(String, Out => Out)] = Seq(
    "exact_dedup" -> (o => o.copy(kept = o.kept.tail)),
    "near_dup_jaccard" -> { o =>
      val (a, b) = (o.kept(0), o.kept(1))
      o.copy(pairs = o.pairs :+ ((a, b, 0.9)))
    },
    "planted_recall" -> { o =>
      val p = planted.toSet
      o.copy(pairs = o.pairs.filterNot(x => p((x._1, x._2)) && x._1 % 4 != 0))
    },
    "clusters" -> { o =>
      val n = o.labels.collectFirst { case (n, l) if n != l => n }.get
      o.copy(labels = o.labels.updated(n, n))
    },
    "exact_topk" -> (o => o.copy(topk = o.topk.dropRight(1))),
    "ann_recall" -> (o => o.copy(ann = o.ann.map(r => r.copy(_4 = r._4 + 1)))))
}

/** A Structured Streaming replay: the generated events are staged as
  * 10-day micro-batches (plus two far-future sentinels that flush the
  * watermark), then replayed through `EventStream.sessionize` into the
  * parquet file sink and through `UpsertSink.runUpsert` into versioned
  * snapshots. */
final class StreamIngest(spark: SparkSession, in: String) extends Workload {
  import spark.implicits._

  final case class Out(sessions: Vector[(Long, Long, Long, Long, Long)],
      latest: Vector[(Long, Long, String, Double, Long)], versions: Int)

  private val Sentinels = Seq(1893456000000L, 1893542400000L) // 2030-01-01, 2030-01-02 UTC
  private lazy val batches = props(s"$in/expected.properties")("batches").toInt

  def pass(t: Tracer, dir: String): Out = {
    val ev = spark.read.schema("event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value DOUBLE")
      .option("header", "true").csv(s"$in/events.csv")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"))
    val bucket = floor(datediff(to_date(col("ts")), lit(EventGen.Start.toString).cast("date")) / EventGen.BatchDays)
    val sentinels = Sentinels.map(ms =>
      Seq((-1L, new Timestamp(ms), -1L, "__sentinel", 0.0)).toDF(ev.columns: _*))
    val staged = s"$dir/in"
    val schema = t.span("stream.stage") {
      StreamHarness.stage((0 until batches).map(i => ev.filter(bucket === i)) ++ sentinels, staged)
    }
    val sessions = t.span("stream.sessionize") {
      StreamHarness.run(spark, staged, schema, s"$dir/sessions") { src =>
        EventStream.sessionize(
          src.withWatermark("ts", "10 minutes").select(col("user_id"), col("ts"), col("value"))
            .as[(Long, Timestamp, Double)], gapMinutes = 30)
      }
      spark.read.parquet(s"$dir/sessions").filter(col("user_id") >= 0).collect().toVector.map { r =>
        (r.getLong(0), micros(r.getTimestamp(1)), micros(r.getTimestamp(2)), r.getLong(3),
          Math.round(r.getDouble(4) * 100))
      }.sorted
    }
    val versions = s"$dir/versions"
    val latest = t.span("sinks.upsert") {
      StreamHarness.runQuery(spark, staged, schema) { src =>
        UpsertSink.runUpsert(src, "user_id", "ts", versions)
      }
      val v = UpsertSink.latestVersionDir(spark, versions)
        .getOrElse(sys.error("the upsert replay published no complete version"))
      spark.read.parquet(v).filter(col("user_id") >= 0)
        .select("user_id", "event_id", "event_type", "value", "ts").collect().toVector
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), micros(r.getTimestamp(4))))
        .sortBy(_._1)
    }
    val published = Option(new File(versions).listFiles()).toSeq.flatten
      .count(f => f.getName.startsWith("v") && new File(f, "_SUCCESS").isFile)
    Out(sessions, latest, published)
  }

  override def layerMetrics(out: Out): Map[String, Double] =
    Map("sinks.upsert_versions" -> out.versions.toDouble)

  private lazy val expSessions = tsv(s"$in/expected_sessions.tsv")
    .map(a => (a(0).toLong, a(1).toLong, a(2).toLong, a(3).toLong, a(4).toLong)).sorted
  private lazy val expLatest = tsv(s"$in/expected_latest.tsv")
    .map(a => (a(0).toLong, a(1).toLong, a(2), a(3).toDouble, a(4).toLong))

  val checks: Seq[(String, Out => Option[String])] = Seq(
    "sessions" -> { o =>
      val (got, want) = (o.sessions.toSet, expSessions.toSet)
      expect(o.sessions == expSessions, s"${o.sessions.size} sessions, expected ${expSessions.size}; " +
        s"${(got diff want).size} unexpected, ${(want diff got).size} missing")
    },
    "latest_per_key" -> (o => expect(o.latest == expLatest,
      s"${o.latest.zipAll(expLatest, null, null).count(p => p._1 != p._2)} of ${expLatest.size} snapshot rows differ")),
    "upsert_versions" -> (o => expect(o.versions == batches + Sentinels.size,
      s"${o.versions} snapshot versions published, expected one per micro-batch (${batches + Sentinels.size})")))

  val corruptions: Seq[(String, Out => Out)] = Seq(
    "sessions" -> (o => o.copy(sessions = o.sessions.tail)),
    "latest_per_key" -> (o => o.copy(latest = o.latest.updated(0, o.latest(0).copy(_4 = o.latest(0)._4 + 1)))),
    "upsert_versions" -> (o => o.copy(versions = o.versions - 1)))
}
