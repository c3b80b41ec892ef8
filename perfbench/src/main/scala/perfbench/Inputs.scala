package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.multimodal.h264.H264Fixtures
import org.apache.spark.sql.SparkSession

/** Seeded input generators, one per workload, with an on-disk cache
  * keyed by (workload, seed, scale). The program under test only ever
  * sees the files written here.
  *
  * The seed picks contents (words, frame counts, which ids form
  * duplicate families); the scale alone fixes the amount of work (row
  * counts, family counts, duplicate share), so runs with different
  * seeds measure the same work on different data. Per-row sizes are
  * drawn independently per row, so their totals vary by well under 1%
  * between seeds at the default scales.
  */
object Inputs {

  /** Bump when a generator changes, so stale caches are not reused. */
  val Version = 7

  /** Generated corpus on disk plus the facts the checks need. */
  final case class Corpus(dir: Path, rows: Long, inputBytes: Long,
      generatedS: Double)

  // Caption / document vocabulary: short technical words, the register
  // of the reference's metadata captions. Mean word length 4-6 keeps
  // every document inside the curate quality band (3..10 chars/word).
  val Words: IndexedSeq[String] = IndexedSeq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "frame", "video", "clip", "shard", "token", "pack",
    "index", "check", "caption", "scene", "camera", "person", "walks",
    "street", "light", "water", "green", "moving", "close", "view",
    "outdoor", "people", "running", "sunset", "river", "city", "night",
    "market", "forest", "road", "crowd", "dance", "music", "kitchen")

  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "es", "zh",
    "de", "fr")
  val Sources: IndexedSeq[String] = IndexedSeq("web", "books", "wiki",
    "news")

  def words(rng: java.util.SplittableRandom, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(Words(rng.nextInt(Words.length)))

  def rng(seed: Long, salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** `n` sizes spread evenly over [lo, hi], in seeded order: the seed
    * decides which row gets which size, never the total. */
  def spread(n: Int, lo: Int, hi: Int,
      r: java.util.SplittableRandom): IndexedSeq[Int] = {
    val a = Array.tabulate(n)(i => lo + (i.toLong * (hi - lo + 1) / n).toInt)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** Cache directory for one (workload, seed, scale). */
  def key(workload: String, seed: Long, scale: Int): String =
    s"$workload-v$Version-s$seed-x$scale"

  private def dirBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_))
      .filter(p => !p.getFileName.toString.startsWith("."))
      .filter(p => !p.getFileName.toString.startsWith("_"))
      .mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  private def rowsFile(dir: Path): Path = dir.resolve("_ROWS")

  /** Ground truth kept beside the corpus, never given to the program:
    * `id<TAB>group` lines (curate: planted exact-copy groups keyed by
    * the original's doc_id; media: family media ids). */
  private def writeTruth(dir: Path, pairs: Seq[(Long, Long)]): Unit = {
    Files.writeString(dir.resolve("_TRUTH"),
      pairs.map { case (a, b) => s"$a\t$b\n" }.mkString): Unit
  }

  def readTruth(dir: Path): Map[Long, Long] =
    Files.readAllLines(dir.resolve("_TRUTH")).toArray(Array.empty[String])
      .iterator.filter(_.nonEmpty).map { l =>
        val Array(a, b) = l.split('\t'); a.toLong -> b.toLong
      }.toMap

  /** Return the cached corpus, generating it first when absent. A
    * corpus is written to a temporary sibling and renamed into place,
    * so a killed run never leaves a half-written cache entry. */
  def ensure(spark: SparkSession, cacheRoot: Path, workload: String,
      seed: Long, scale: Int): Corpus = {
    val dir = cacheRoot.resolve(key(workload, seed, scale))
    var genS = 0.0
    if (!Files.exists(rowsFile(dir))) {
      val t0 = System.nanoTime()
      val tmp = cacheRoot.resolve(s".tmp-${key(workload, seed, scale)}-" +
        ProcessHandle.current().pid())
      Files.createDirectories(tmp)
      val rows = workload match {
        case "wds_pipeline" => genWds(spark, tmp, dir, seed, scale)
        case "text_curate" => genCurate(spark, tmp, seed, scale)
        case "media_dedup" => genMedia(spark, tmp, seed, scale)
      }
      Files.writeString(rowsFile(tmp), rows.toString)
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // another run won the race: keep its copy
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException =>
          Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
      }
      genS = (System.nanoTime() - t0) / 1e9
    }
    Corpus(dir, Files.readString(rowsFile(dir)).trim.toLong, dirBytes(dir),
      genS)
  }

  // ------------------------------------------------------ wds_pipeline

  /** Videos per scale unit. 40 pack partitions make 40 tars, so with
    * shard_size 5 there are 8 merge groups: two per core on local[4]. */
  val WdsVideosPerScale = 200

  // Frames per video: 16..47. The uniform sampler always takes 16
  // segment centres, so the frame count moves decode work (the GOP
  // walk-forward from each sync sample) without changing the sample
  // layout. Caption length: 20..79 words, about the sf0.1 documents
  // (~50 words); each sample also carries 16 × 258 image tokens, so
  // one caption never fills a pack by itself.

  /** Writes under `dir`; the metadata names the videos under `finalDir`,
    * where `dir` is renamed to once complete. */
  private def genWds(spark: SparkSession, dir: Path, finalDir: Path,
      seed: Long, scale: Int): Long = {
    val n = WdsVideosPerScale * scale
    val r = rng(seed, 1)
    val videos = dir.resolve("videos")
    Files.createDirectories(videos)
    val frames = spread(n, 16, 47, r)
    val captions = spread(n, 20, 79, r)
    val rows = (0 until n).map { i =>
      val docId = 1000L + r.nextInt(1 << 20)
      val name = f"v$i%06d.mp4"
      Files.write(videos.resolve(name), H264Fixtures.videoGop(docId,
        frames(i)))
      (finalDir.resolve("videos").resolve(name).toUri.toString,
        words(r, captions(i)).mkString(" "))
    }
    import spark.implicits._
    rows.toDF("video_path", "value").coalesce(1)
      .write.parquet(dir.resolve("meta").toString)
    n.toLong
  }

  // ------------------------------------------------------- text_curate

  /** Documents per scale unit: a fifth of the sf0.1 `documents` table. */
  val CurateDocsPerScale = 1000

  /** Per 100 documents: 70 singletons, 4 near-dup families of 4
    * (base + 3 perturbed copies), 6 planted exact copies of a base or
    * singleton, 4 excerpts (a contiguous 60% slice of another
    * document: long spans shared with their source) and 4 sharing a
    * 60-word boilerplate block (long duplicated spans for the span
    * scrub with minRun 50). Duplicate share: 30%. */
  final case class CurateRow(doc_id: Long, text: String, lang: String,
      source: String, planted_group: Long)

  def curateRows(seed: Long, scale: Int): IndexedSeq[CurateRow] = {
    val r = rng(seed, 2)
    val out = IndexedSeq.newBuilder[CurateRow]
    var nextId = 0L
    def lang() = Langs(r.nextInt(Langs.length))
    def src() = Sources(r.nextInt(Sources.length))
    def add(text: String, group: Long): Long = {
      val id = nextId; nextId += 1
      out += CurateRow(id, text, lang(), src(), group)
      id
    }
    val boiler = words(r, 60).mkString(" ")
    val blocks = CurateDocsPerScale * scale / 100
    (0 until blocks).foreach { _ =>
      val originals = IndexedSeq.newBuilder[(Long, String)]
      spread(70, 30, 89, r).foreach { len =>
        val t = words(r, len).mkString(" ")
        originals += add(t, -1L) -> t
      }
      spread(4, 50, 89, r).foreach { len =>
        val base = words(r, len)
        originals += add(base.mkString(" "), -1L) -> base.mkString(" ")
        (1 to 3).foreach { k =>
          // one substituted word per ~40 plus a copy tag: shingle
          // Jaccard to the base stays ≈ 0.7-0.85
          val v = base.toArray
          (0 until math.max(1, v.length / 40)).foreach { _ =>
            v(r.nextInt(v.length)) = Words(r.nextInt(Words.length))
          }
          add(v.mkString(" ") + s" copy$k", -1L)
        }
      }
      val pool = originals.result()
      (0 until 4).foreach { _ =>
        val t = pool(r.nextInt(pool.length))._2.split(' ')
        val len = math.max(30, t.length * 6 / 10)
        val from = r.nextInt(math.max(1, t.length - len + 1))
        add(t.slice(from, from + len).mkString(" "), -1L)
      }
      (0 until 4).foreach { _ =>
        add(words(r, 30).mkString(" ") + " " + boiler, -1L)
      }
      (0 until 6).foreach { _ =>
        val (origId, t) = pool(r.nextInt(pool.length))
        add(t, origId)
      }
    }
    // exact copies point at their original; mark the original too
    val rows = out.result()
    val planted = rows.iterator.filter(_.planted_group >= 0)
      .map(_.planted_group).toSet
    rows.map(x =>
      if (planted(x.doc_id)) x.copy(planted_group = x.doc_id) else x)
  }

  private def genCurate(spark: SparkSession, dir: Path, seed: Long,
      scale: Int): Long = {
    import spark.implicits._
    val rows = curateRows(seed, scale)
    // doc ids are shuffled so planted copies are not all the highest
    // ids: exact dedup keeps the lowest surviving id of each group
    val perm = scala.util.Random.javaRandomToRandom(
      new java.util.Random(seed)).shuffle(rows.indices.toVector)
    val shuffled = rows.indices.map { i =>
      val x = rows(i)
      x.copy(doc_id = perm(i).toLong,
        planted_group =
          if (x.planted_group < 0) -1L else perm(x.planted_group.toInt))
    }
    shuffled.map(x => (x.doc_id, x.text, x.lang, x.source))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(4).write.parquet(dir.resolve("docs").toString)
    writeTruth(dir, shuffled.collect {
      case x if x.planted_group >= 0 => x.doc_id -> x.planted_group
    })
    rows.length.toLong
  }

  // ------------------------------------------------------- media_dedup

  /** Takes per scale unit: 40 families × 3 takes + 80 distractors, so
    * 60% of the takes are planted duplicates. */
  val MediaFamiliesPerScale = 40
  val MediaDistractorsPerScale = 80

  // Frames per take: 18..41. A family's re-encode adds 3 trailing
  // frames at another QP; its clip keeps 60% of the base's content,
  // enough for a shingle Jaccard above the 0.4 threshold.

  final case class MediaRow(media_id: Long, take: Int,
      content: Array[Byte])

  private def genMedia(spark: SparkSession, dir: Path, seed: Long,
      scale: Int): Long = {
    import spark.implicits._
    val r = rng(seed, 3)
    val nFam = MediaFamiliesPerScale * scale
    val nDis = MediaDistractorsPerScale * scale
    // The fixture's I_PCM pixels are functions of the doc id mod 251,
    // so ids equal mod 251 decode to the same pictures: every family
    // and distractor takes its own residue.
    require(nFam + nDis <= 250, s"at most 250 distinct media docs, got ${nFam + nDis}")
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((1 to 250).toVector).take(nFam + nDis).map(_.toLong)
    val rows = IndexedSeq.newBuilder[MediaRow]
    val famFrames = spread(nFam, 18, 41, r)
    val disFrames = spread(nDis, 18, 41, r)
    ids.take(nFam).zip(famFrames).foreach { case (d, n) =>
      val clipLen = n * 6 / 10
      val from = r.nextInt(n - clipLen + 1)
      val qp2 = 16 + ((H264Fixtures.qpFor(d) - 16 + 1 + r.nextInt(23)) % 24)
      rows += MediaRow(d, 0, H264Fixtures.videoQp(d, n,
        H264Fixtures.qpFor(d)))
      rows += MediaRow(d, 1, H264Fixtures.videoQp(d, n + 3, qp2))
      rows += MediaRow(d, 2, H264Fixtures.videoClip(d, from, clipLen))
    }
    ids.drop(nFam).zip(disFrames).foreach { case (d, n) =>
      rows += MediaRow(d, 0, H264Fixtures.video(d, n))
    }
    val all = rows.result()
    all.toDF().repartition(4).write.parquet(dir.resolve("media").toString)
    writeTruth(dir, ids.take(nFam).map(d => d -> d))
    all.length.toLong
  }
}
