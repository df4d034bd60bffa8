package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.dedup.Dedup
import graft.functions.expressions.{minhashSig, wordShingleHashes}
import graft.operators.Relational
import graft.operators.Relational.Lookup
import graft.pipelines.CorpusAssembly
import graft.sinks.TableSink
import graft.sources.JsonTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One workload: a job built only from the program's public layer
  * calls, run once cold and then repeatedly warm. */
trait Workload {
  /** Bytes of the input files one job reads. */
  def inputBytes: Long
  /** Untimed, before every repetition. */
  def prepare(): Unit = ()
  /** One job. `snap(i)` runs after the i-th mutation call; the caller
    * passes a no-op except for the checked repetition, where it calls
    * [[snapshot]] and excludes the time it takes. */
  def run(t: Tracer, snap: Int => Unit): Unit
  /** Save the state after mutation call `i` for the output checks. */
  def snapshot(i: Int): Unit = ()
  /** Traced run only: each layer timed on its own, its inputs
    * materialized first (Spark plans are lazy, so a layer call alone
    * does no work). Returns metric name -> value. */
  def probes(t: Tracer): Map[String, Double]
}

object Io {
  def dirBytes(p: Path): Long =
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.map(dirBytes).sum
    else Files.size(p)

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toList.foreach(delete)
      Files.delete(p)
    }

  def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.toList.foreach { f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Time one traced layer probe, in seconds. */
  def timed(t: Tracer, layer: String, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    t.call(layer, name)(body)
    (System.nanoTime() - t0) / 1e9
  }
}

import Io._

/** BQETLSimple then BQETLNested over MusicBrainz-shaped line JSON. */
final class DenormJson(spark: SparkSession, in: Path, out: Path) extends Workload {
  private val L = LongType
  private val S = StringType
  private def schema(fs: (String, DataType)*) =
    StructType(fs.map { case (n, t) => StructField(n, t) })
  private val schemas = Map(
    "artist" -> schema("id" -> L, "gid" -> S, "name" -> S, "sort_name" -> S, "type" -> L,
      "gender" -> L, "area" -> L, "begin_date_year" -> L, "comment" -> S),
    "artist_credit_name" -> schema("artist_credit" -> L, "position" -> L, "artist" -> L,
      "name" -> S, "join_phrase" -> S),
    "recording" -> schema("id" -> L, "gid" -> S, "name" -> S, "artist_credit" -> L,
      "length" -> L, "comment" -> S, "video" -> BooleanType),
    "gender" -> schema("id" -> L, "name" -> S),
    "area" -> schema("id" -> L, "name" -> S, "type" -> L))
  private val tables = schemas.keys.toSeq.sorted

  val inputBytes: Long = tables.map(n => Files.size(in.resolve(s"$n.json"))).sum

  private def load(t: Tracer, n: String): DataFrame =
    t.call("sources", s"JsonTables.loadTable $n") {
      JsonTables.loadTable(spark, in.resolve(s"$n.json").toString, n, schemas(n))
    }

  private def lookups(gender: DataFrame, area: DataFrame) = Seq(
    Lookup(gender, "gender_id", "gender_name", Seq("artist_gender")),
    Lookup(area, "area_id", "area_name", Seq("artist_area")))

  def run(t: Tracer, snap: Int => Unit): Unit = {
    val Seq(area, artist, acn, gender, rec) = tables.map(load(t, _))
    val artistL = t.call("operators", "Relational.lookupReplace") {
      Relational.lookupReplace(artist, lookups(gender, area): _*)
    }
    val credited = t.call("operators", "Relational.innerJoinMerge") {
      Relational.innerJoinMerge(artistL, acn, "artist_id", "artist_credit_name_artist")
    }
    val flat = t.call("operators", "Relational.innerJoinMerge") {
      Relational.innerJoinMerge(credited, rec,
        "artist_credit_name_artist_credit", "recording_artist_credit")
    }
    t.call("sinks", "TableSink.writeTruncate flat") {
      TableSink.writeTruncate(flat, out.resolve("flat").toString)
    }
    val child = t.call("operators", "Relational.innerJoinMerge") {
      Relational.innerJoinMerge(acn, rec, "artist_credit_name_artist_credit", "recording_artist_credit")
    }
    val nested = t.call("operators", "Relational.nest") {
      Relational.nest(artistL, child, "artist_id", "artist_credit_name_artist", "recordings",
        sortChildBy = Seq("recording_id"))
    }
    val chunked = t.call("operators", "Relational.nestChunked") {
      Relational.nestChunked(nested, "recordings", 1000)
    }
    t.call("sinks", "TableSink.writeTruncate nested") {
      TableSink.writeTruncate(chunked, out.resolve("nested").toString)
    }
  }

  def probes(t: Tracer): Map[String, Double] = {
    val loadS = tables.map(n => timed(t, "sources", s"probe load $n")(noop(load(t, n)))).sum
    def cached(name: String)(df: => DataFrame): DataFrame =
      t.span("bench", s"materialize $name") { val c = df.cache(); c.count(); c }
    val Seq(area, artist, acn, gender, rec) = tables.map(n => cached(n)(load(t, n)))
    val lookupS = timed(t, "operators", "probe lookupReplace") {
      noop(Relational.lookupReplace(artist, lookups(gender, area): _*))
    }
    val artistL = cached("artistL")(Relational.lookupReplace(artist, lookups(gender, area): _*))
    val joinS = timed(t, "operators", "probe innerJoinMerge x2") {
      noop(Relational.innerJoinMerge(
        Relational.innerJoinMerge(artistL, acn, "artist_id", "artist_credit_name_artist"),
        rec, "artist_credit_name_artist_credit", "recording_artist_credit"))
    }
    val child = cached("child")(Relational.innerJoinMerge(acn, rec,
      "artist_credit_name_artist_credit", "recording_artist_credit"))
    val nestS = timed(t, "operators", "probe nest+nestChunked") {
      noop(Relational.nestChunked(Relational.nest(artistL, child, "artist_id",
        "artist_credit_name_artist", "recordings", sortChildBy = Seq("recording_id")),
        "recordings", 1000))
    }
    Seq(area, artist, acn, gender, rec, artistL, child).foreach(_.unpersist(true))
    Map("sources.load_s" -> loadS, "operators.lookup_s" -> lookupS,
      "operators.join_s" -> joinS, "operators.nest_s" -> nestS)
  }
}

/** CorpusAssembly quality -> exact -> MinHash near dedup over one parquet file. */
final class CorpusDedup(spark: SparkSession, in: Path, out: Path, scratch: Path) extends Workload {
  private val corpus = in.resolve("corpus.parquet").toString
  private val cfg = CorpusAssembly.Config()
  val inputBytes: Long = Files.size(in.resolve("corpus.parquet"))

  private def read(t: Tracer, p: String): DataFrame =
    t.call("sources", "read.parquet")(spark.read.parquet(p))

  def run(t: Tracer, snap: Int => Unit): Unit = {
    val docs = read(t, corpus)
    val kept = t.call("pipelines", "CorpusAssembly.assembleStaged") {
      CorpusAssembly.assembleStaged(docs, cfg, CorpusAssembly.nearDedupMinhash,
        Seq("quality", "exact", "near"))
    }
    t.call("sinks", "TableSink.writeTruncate") {
      TableSink.writeTruncate(kept.select("doc_id"), out.resolve("kept").toString)
    }
  }

  def probes(t: Tracer): Map[String, Double] = {
    val loadS = timed(t, "sources", "probe load")(noop(read(t, corpus)))
    val shingleS = timed(t, "functions", "probe wordShingleHashes+minhashSig") {
      noop(read(t, corpus).select(col("doc_id"),
        minhashSig(wordShingleHashes(col("text"), cfg.shingleWords), 64).as("sig")))
    }
    // each stage reads its input from parquet written by the stage before
    def stage(name: String, from: String, to: Option[String])(f: DataFrame => DataFrame): Double = {
      val s = timed(t, "pipelines", s"probe $name")(noop(f(read(t, from))))
      to.foreach { p =>
        t.span("bench", s"materialize $name")(f(read(t, from)).write.mode("overwrite").parquet(p))
      }
      s
    }
    val q = scratch.resolve("quality").toString
    val e = scratch.resolve("exact").toString
    val qualityS = stage("qualityFilter", corpus, Some(q))(CorpusAssembly.qualityFilter(_, cfg))
    val exactS = stage("exactDedup", q, Some(e))(CorpusAssembly.exactDedup(_, cfg))
    val nearS = stage("nearDedupMinhash", e, None)(CorpusAssembly.nearDedupMinhash(_, cfg))
    val row = t.call("dedup", "Dedup.minhashCandidates") {
      Dedup.minhashCandidates(read(t, e), "doc_id", "text", cfg.shingleWords)
        .agg(count(lit(1)), sum(when(col("jaccard") >= cfg.jaccardThreshold, 1L).otherwise(0L)))
        .collect().head
    }
    val cand = row.getLong(0).toDouble
    val verified = if (row.isNullAt(1)) 0.0 else row.getLong(1).toDouble
    Map("sources.load_s" -> loadS, "functions.shingle_s" -> shingleS,
      "pipelines.quality_s" -> qualityS, "pipelines.exact_s" -> exactS,
      "pipelines.near_s" -> nearS, "dedup.candidate_pairs" -> cand,
      "dedup.candidate_yield" -> (if (cand > 0) verified / cand else 0.0))
  }
}

/** A sequence of keyed mutations on one table, restored before each job. */
final class CdcMerge(spark: SparkSession, in: Path, out: Path) extends Workload {
  private val table = out.resolve("table")
  private val calls: Seq[(String, String)] =
    Files.readAllLines(in.resolve("calls.txt")).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val i = l.indexOf(' ')
      (l.take(i), l.drop(i + 1))
    }
  private val batches = calls.collect { case (_, f) if f.endsWith(".parquet") => in.resolve(f) }

  val inputBytes: Long = dirBytes(in.resolve("initial")) + batches.map(Files.size).sum

  override def prepare(): Unit = {
    delete(table)
    copyDir(in.resolve("initial"), table)
  }

  override def snapshot(i: Int): Unit = copyDir(table, out.resolve("states").resolve(i.toString))

  private def read(t: Tracer, f: String): DataFrame =
    t.call("sources", "read.parquet")(spark.read.parquet(in.resolve(f).toString))

  def run(t: Tracer, snap: Int => Unit): Unit = {
    val path = table.toString
    calls.zipWithIndex.foreach { case ((kind, arg), i) =>
      kind match {
        case "applyCdc" =>
          val delta = read(t, arg)
          t.call("sinks", "TableSink.applyCdc")(TableSink.applyCdc(spark, path, delta, Seq("id")))
        case "upsertVersioned" =>
          val delta = read(t, arg)
          t.call("sinks", "TableSink.upsertVersioned") {
            TableSink.upsertVersioned(spark, path, delta, Seq("id"), "ver")
          }
        case "deleteKeys" =>
          val keys = arg.split(',').toSeq.map(_.toLong)
          t.call("sinks", "TableSink.deleteKeys")(TableSink.deleteKeys(spark, path, "id", keys))
        case "compact" =>
          t.call("sinks", "TableSink.compact")(TableSink.compact(spark, path))
      }
      snap(i)
    }
  }

  def probes(t: Tracer): Map[String, Double] = {
    val loadS = timed(t, "sources", "probe load") {
      noop(read(t, "initial"))
      batches.foreach(b => noop(read(t, b.getFileName.toString)))
    }
    Map("sources.load_s" -> loadS)
  }
}
