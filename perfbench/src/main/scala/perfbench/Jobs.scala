package perfbench

import java.nio.file.{Files, Path}

import graft.curate.CurateStage
import graft.index.CheckStage
import graft.multimodal.MediaDedup
import graft.pack.{FrameSource, PackStage}
import graft.tokenize.{SentencePieceModel, SpecialTokenTokenizer,
  TokenizeStage, Tokenizers}
import graft.wds.{TarIO, WdsReader}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of the output checks of one iteration. `layer` carries the
  * per-layer counters the checks read off the outputs. */
final case class Checked(attempted: Int, failures: Seq[String],
    layer: Map[String, Double])

/** One workload: how its session is configured and how one job runs.
  * `run` is the timed section; it calls only public stage functions,
  * each inside its own span, and leaves its outputs under `out`. */
trait Job {
  /** What `run` hands to the checks. */
  type Out
  def name: String
  /** Stage calls per iteration (the failure base of a crashed run). */
  def stageCalls: Int
  def run(spark: SparkSession, tr: Tracer, out: Path): Out
  /** Check the outputs of `run`; `traced` adds the costlier counters. */
  def check(spark: SparkSession, result: Out, out: Path,
      traced: Boolean): Checked
  /** Traced-run-only extra calls, outside the timed section. */
  def extras(spark: SparkSession, result: Out, out: Path): Seq[Metric] = Nil
  /** Set-up's last step: list and read the inputs once (a row count),
    * so the file listing and reader start-up are paid before timing. */
  def warmUp(spark: SparkSession): Unit
  /** Release whatever `run` left cached. */
  def close(result: Out): Unit = ()
}

object Jobs {

  /** Session settings per workload, identical on both sides of any
    * comparison. AQE is off everywhere so plans (and partition counts)
    * do not change from run to run. wds_pipeline: 40 pack partitions →
    * 40 tars → 8 merge groups of shard_size 5, two per core. The others
    * shuffle into one partition per core. */
  def confFor(workload: String): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" ->
      (if (workload == "wds_pipeline") "40" else Main.Cores.toString))

  def apply(name: String, corpus: Inputs.Corpus, digests: Digests): Job =
    name match {
      case "wds_pipeline" => new WdsPipeline(corpus, digests)
      case "text_curate" => new TextCurate(corpus, digests)
      case "media_dedup" => new MediaDedupJob(corpus)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (wds_pipeline|text_curate|media_dedup)")
    }

  def md5(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  /** Digest of the regular, non-hidden files of a directory: names and
    * bytes, in name order. */
  def dirDigest(dir: Path): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    listFiles(dir).foreach { p =>
      d.update(p.getFileName.toString.getBytes("UTF-8"))
      d.update(Files.readAllBytes(p))
    }
    d.digest().map(b => f"$b%02x").mkString
  }

  def listFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Local file of a shard url as the writer reports it. */
  def local(url: String): Path =
    java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(url).toUri.getPath)

  def mb(dir: Path): Double =
    listFiles(dir).map(Files.size(_)).sum / 1e6

  /** Bytes this process has read through syscalls (`/proc/self/io`
    * rchar); 0 where the file does not exist. */
  def rchar(): Long = {
    val f = java.nio.file.Paths.get("/proc/self/io")
    if (!Files.exists(f)) 0L
    else Files.readAllLines(f).toArray(Array.empty[String])
      .collectFirst { case l if l.startsWith("rchar:") =>
        l.stripPrefix("rchar:").trim.toLong }.getOrElse(0L)
  }

  /** tokens / (packs × max tokens): how full the greedy packer fills
    * its 8000-token packs. */
  def fillRatio(tokens: Long, packs: Long,
      maxTokens: Int = TokenizeStage.MaxTokens): Double =
    if (packs <= 0) 0.0 else tokens.toDouble / (packs.toDouble * maxTokens)

  /** A deterministic 32,000-piece SentencePiece unigram model: 3
    * control pieces, 256 byte-fallback pieces and normal pieces — the
    * caption vocabulary as whole words (with and without the ▁ word
    * boundary), then letter n-grams of length 1..4 in lexicographic
    * order until the vocabulary is full. Longer pieces score higher,
    * so known words encode to one piece and unknown text to a few
    * n-grams. Built through the model file format (serialize → parse)
    * like a real `tokenizer.model`. */
  def sentencePiece(size: Int = 32000): SentencePieceModel = {
    import SentencePieceModel._
    val fixed = Seq(Piece("<unk>", 0f, TypeUnknown),
      Piece("<s>", 0f, TypeControl), Piece("</s>", 0f, TypeControl)) ++
      (0 until 256).map(b => Piece(f"<0x$b%02X>", 0f, TypeByte))
    val letters = ('a' to 'z').map(_.toString)
    def grams(n: Int): Iterator[String] =
      if (n == 1) letters.iterator
      else grams(n - 1).flatMap(p => letters.iterator.map(p + _))
    val words = Inputs.Words.iterator.flatMap(w => Iterator("▁" + w, w))
    val ngrams = Iterator.range(1, 3).flatMap(n => grams(n).map("▁" + _)) ++
      Iterator.range(1, 5).flatMap(grams)
    val normal = (words ++ ngrams).distinct.take(size - fixed.length)
      .map { p =>
        val len = p.stripPrefix("▁").length
        Piece(p, (-12.0 + 1.5 * len).toFloat, TypeNormal)
      }.toSeq
    val model = parse(serialize(fixed ++ normal))
    require(model.pieces.length == size,
      s"built ${model.pieces.length} pieces, wanted $size")
    model
  }
}

/** Expected output digests per seed, kept beside the cached corpus so
  * that later runs of the same seed and build compare against the
  * first one. */
final class Digests(dir: Path, buildId: String) {
  private def file(tag: String) = dir.resolve(s"_DIGEST-$tag-$buildId")

  /** true when `digest` matches the recorded one (recording it first). */
  def agree(tag: String, digest: String): Boolean = {
    val f = file(tag)
    if (!Files.exists(f)) {
      val tmp = dir.resolve(s".digest-$tag-${ProcessHandle.current().pid()}")
      Files.writeString(tmp, digest)
      try Files.move(tmp, f)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp): Unit }
    }
    Files.readString(f).trim == digest
  }
}

object WdsPipeline {
  final case class Out(packUrls: Seq[String], packSamples: Long,
      tokUrls: Seq[String], packs: Long, index: Array[Row],
      indexReadBytes: Long)
}

/** pack → tokenize → index over generated metadata and avc1 videos. */
final class WdsPipeline(corpus: Inputs.Corpus, digests: Digests) extends Job {
  val name = "wds_pipeline"
  val stageCalls = 3

  val ShardSize = 5
  val Frames = 16
  private val tokenizer = new SpecialTokenTokenizer(Jobs.sentencePiece(),
    Tokenizers.MultimodalSpecials)

  type Out = WdsPipeline.Out

  def warmUp(spark: SparkSession): Unit =
    require(spark.read.parquet(corpus.dir.resolve("meta").toString).count() ==
      corpus.rows, "metadata row count differs from the generated corpus")

  private def urls(info: Array[Row]): Seq[String] =
    info.map(r => (r.getAs[Int]("partition"), r.getAs[String]("url")))
      .sorted.map(_._2).toSeq

  def run(spark: SparkSession, tr: Tracer, out: Path): Out = {
    val meta = spark.read.parquet(corpus.dir.resolve("meta").toString)
    val packInfo = tr.span("pack") {
      PackStage.run(meta, out.resolve("pack").toString,
        PackStage.PackOptions(frames = FrameSource.Mp4Frames),
        graft.Pipeline.hadoopMedia(spark)).collect()
    }
    val packUrls = urls(packInfo)
    val tokInfo = tr.span("tokenize") {
      TokenizeStage.run(WdsReader.readUrlsGrouped(spark, packUrls, ShardSize),
        out.resolve("tok").toString, tokenizer).collect()
    }
    val tokUrls = urls(tokInfo)
    val r0 = Jobs.rchar()
    val idx = tr.span("index") {
      CheckStage.index(WdsReader.readUrls(spark, tokUrls,
        TarIO.ReadOptions(payloadFiles = Some(_.endsWith(".json")))),
        strict = true).collect()
    }
    def samples(info: Array[Row]) = info.map(_.getAs[Long]("nsamples")).sum
    WdsPipeline.Out(packUrls, samples(packInfo), tokUrls, samples(tokInfo),
      idx, Jobs.rchar() - r0)
  }

  def check(spark: SparkSession, o: Out, out: Path,
      traced: Boolean): Checked = {
    val fails = Seq.newBuilder[String]
    if (o.packSamples != corpus.rows)
      fails += s"pack wrote ${o.packSamples} samples for ${corpus.rows} rows"
    // every pack sample: its json plus 16 sibling frames
    var samples = 0L
    var frames = 0L
    var malformed = 0L
    o.packUrls.foreach { u =>
      val in = Files.newInputStream(Jobs.local(u))
      try TarIO.readSamples(in, u).foreach { s =>
        samples += 1
        val jpg = s.entries.keys.count(_.endsWith(".jpg"))
        frames += jpg
        if (!s.entries.contains("json") || jpg != Frames ||
          s.entries.size != Frames + 1) malformed += 1
      } finally in.close()
    }
    if (malformed > 0) fails += s"$malformed pack samples lack json + $Frames frames"
    if (samples != o.packSamples)
      fails += s"pack tars hold $samples samples, writer reported ${o.packSamples}"
    val indexed = o.index.map(_.getAs[Long]("nsamples")).sum
    if (indexed != o.packs)
      fails += s"index counts $indexed samples, tokenize wrote ${o.packs}"
    val tokDir = out.resolve("tok")
    if (!digests.agree("tok", Jobs.dirDigest(tokDir)))
      fails += "tokenized output differs from the first run of this seed"

    val tokMb = Jobs.mb(tokDir)
    val base = Map(
      "pack.samples" -> o.packSamples.toDouble,
      "pack.frames" -> frames.toDouble,
      "pack.tars" -> o.packUrls.size.toDouble,
      "pack.out_mb" -> Jobs.mb(out.resolve("pack")),
      "tokenize.samples_in" -> o.packSamples.toDouble,
      "tokenize.packs" -> o.packs.toDouble,
      "index.shards" -> o.index.length.toDouble,
      "index.samples" -> indexed.toDouble,
      "index.read_mb" -> o.indexReadBytes / 1e6,
      "index.read_frac" -> (if (tokMb > 0) o.indexReadBytes / 1e6 / tokMb
        else 0.0))
    val tokCounts =
      if (!traced) Map.empty[String, Double]
      else {
        // tokens and merged documents per pack, read off the json
        var tokens = 0L
        var docs = 0L
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        o.tokUrls.foreach { u =>
          val in = Files.newInputStream(Jobs.local(u))
          try TarIO.readSamples(in, u, TarIO.ReadOptions(
            selectFiles = Some(_.endsWith(".json")))).foreach { s =>
            val j = org.json4s.jackson.JsonMethods.parse(
              new String(s.entries("json"), "UTF-8"))
            tokens += (j \ "input_ids").extract[Seq[Int]].length
            docs += (j \ "text").extract[Seq[String]].length
          } finally in.close()
        }
        Map("tokenize.tokens" -> tokens.toDouble,
          "tokenize.skipped" -> (o.packSamples - docs).toDouble,
          "tokenize.fill_ratio" -> Jobs.fillRatio(tokens, o.packs))
      }
    Checked(4, fails.result(), base ++ tokCounts)
  }

  /** A full scan of the pack output into a `noop` sink: the tar read
    * path alone, with no decode or tokenize work on top. */
  override def extras(spark: SparkSession, o: Out,
      out: Path): Seq[Metric] = {
    val t0 = System.nanoTime()
    WdsReader.readUrls(spark, o.packUrls).toDF()
      .write.format("noop").mode("overwrite").save()
    Seq(Metric("wds.scan_s", (System.nanoTime() - t0) / 1e9, "s"),
      Metric("wds.scan_mb", Jobs.mb(out.resolve("pack")), "MB"))
  }
}

object TextCurate {
  final case class Out(res: CurateStage.CurateResult, stats: Row)
}

/** The curation funnel over generated documents, written as parquet. */
final class TextCurate(corpus: Inputs.Corpus, digests: Digests) extends Job {
  val name = "text_curate"
  val stageCalls = 2

  /** Quality, language mix (`rates`), exact dedup, duplicated-span
    * filter and the maximal-run span scrub (ExactSubstr, minRun 50).
    * The near-dup, containment and token-budget stages are left out:
    * each adds a fixed 5-15 s of planning and small jobs per cold run
    * on a 4-core host, more than the whole rest of the funnel, so a run
    * could not hold enough iterations for a steady median. Connected
    * components stay measured by media_dedup. */
  val Options = CurateStage.CurateOptions(
    rates = Seq("en" -> 90, "de" -> 50),
    spanScrub = true,
    scrubMinRun = 50)

  private lazy val truth = Inputs.readTruth(corpus.dir)

  type Out = TextCurate.Out

  def warmUp(spark: SparkSession): Unit =
    require(spark.read.parquet(corpus.dir.resolve("docs").toString).count() ==
      corpus.rows, "document row count differs from the generated corpus")

  def run(spark: SparkSession, tr: Tracer, out: Path): Out = {
    val docs = spark.read.parquet(corpus.dir.resolve("docs").toString)
    val res = tr.span("curate") { CurateStage.run(docs, Options) }
    val stats = res.stats.collect().head
    tr.span("curate_write") {
      res.curated.write.parquet(out.resolve("curated").toString)
    }
    TextCurate.Out(res, stats)
  }

  override def close(o: Out): Unit = o.res.close()

  def check(spark: SparkSession, o: Out, out: Path,
      traced: Boolean): Checked = {
    val fails = Seq.newBuilder[String]
    val names = o.stats.schema.fieldNames.toSeq
    val counts = names.map(n => n -> o.stats.getAs[Long](n))
    counts.sliding(2).foreach {
      case Seq((a, x), (b, y)) if y > x =>
        fails += s"funnel grows from $a=$x to $b=$y"
      case _ =>
    }
    val curated = spark.read.parquet(out.resolve("curated").toString)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val nCurated = o.stats.getAs[Long]("n_curated")
    if (curated.length != nCurated)
      fails += s"curated parquet has ${curated.length} rows, stats say $nCurated"
    if (!digests.agree("curated", Jobs.md5(
      curated.map { case (id, h) => s"$id:$h" }.mkString("\n").getBytes("UTF-8"))))
      fails += "curated output differs from the first run of this seed"
    // exact dedup keeps at most one member of each planted copy group
    val kept = curated.iterator.map(_._1).flatMap(truth.get).toSeq
    val doubled = kept.groupBy(identity).count(_._2.size > 1)
    if (doubled > 0) fails += s"$doubled planted exact-copy groups kept twice"
    val nDocs = o.stats.getAs[Long]("n_docs")
    Checked(4, fails.result(),
      counts.map { case (n, v) => s"curate.kept.$n" -> v.toDouble }.toMap +
        ("curate.kept_frac" -> (if (nDocs > 0) nCurated.toDouble / nDocs
          else 0.0)))
  }
}

/** Perceptual near-dup clusters over generated avc1 takes. */
final class MediaDedupJob(corpus: Inputs.Corpus) extends Job {
  val name = "media_dedup"
  val stageCalls = 2

  val Window = 3
  val ThresholdPpm = 400000L
  private val fingerprint =
    MediaDedup.perceptualVideoFingerprint(FrameSource.Mp4Frames)
  private lazy val families = Inputs.readTruth(corpus.dir)

  private def media(spark: SparkSession): DataFrame =
    spark.read.parquet(corpus.dir.resolve("media").toString)

  def warmUp(spark: SparkSession): Unit =
    require(media(spark).count() == corpus.rows,
      "media row count differs from the generated corpus")

  type Out = Unit

  def run(spark: SparkSession, tr: Tracer, out: Path): Unit = {
    val clusters = tr.span("mediadedup") {
      MediaDedup.nearDupClusters(media(spark),
        out.resolve("stage").toString, fingerprint, Window, ThresholdPpm)
    }
    tr.span("mediadedup_write") {
      clusters.write.parquet(out.resolve("result").toString)
    }
  }

  def check(spark: SparkSession, result: Unit, out: Path,
      traced: Boolean): Checked = {
    val rows = spark.read.parquet(out.resolve("result").toString)
      .select("media_id", "take", "cluster_id", "cluster_take", "survivor")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        (r.getLong(2), r.getInt(3)), r.getBoolean(4)))
    val fails = Seq.newBuilder[String]
    if (rows.length != corpus.rows)
      fails += s"${rows.length} result rows for ${corpus.rows} takes"
    val famClusters = rows.toSeq.flatMap { case (id, _, c, _) =>
      families.get(id).map(_ -> c) }.groupBy(_._1)
      .map { case (f, cs) => f -> cs.map(_._2).distinct }
    val nFam = families.values.toSet.size
    val whole = famClusters.count(_._2.size == 1)
    val recall = if (nFam == 0) 1.0 else whole.toDouble / nFam
    if (whole != nFam) fails += s"${nFam - whole} families split across clusters"
    val shared = famClusters.values.flatten.groupBy(identity)
      .count(_._2.size > 1)
    if (shared > 0) fails += s"$shared clusters hold more than one family"
    val byCluster = rows.groupBy(_._3)
    val badSurvivors = byCluster.count(_._2.count(_._4) != 1)
    if (badSurvivors > 0)
      fails += s"$badSurvivors clusters without exactly one survivor"
    Checked(4, fails.result(), Map(
      "mediadedup.clusters" -> byCluster.size.toDouble,
      "mediadedup.survivors" -> rows.count(_._4).toDouble,
      "mediadedup.planted_recall" -> recall))
  }

  /** A separate staging call: the decode + shingle pass alone. */
  override def extras(spark: SparkSession, result: Unit,
      out: Path): Seq[Metric] = {
    val t0 = System.nanoTime()
    val staged = MediaDedup.stageShingles(media(spark),
      out.resolve("stage-only").toString, fingerprint, Window)
    val s = (System.nanoTime() - t0) / 1e9
    Seq(Metric("multimodal.stage_s", s, "s"),
      Metric("multimodal.stage_rows", staged.count().toDouble, "count"))
  }
}
