package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.Dedup
import graft.streaming.StreamOps

/** The training-data engine's write path beside its read path: the
  * streaming label-absorb drain at production geometry — three
  * micro-batches of the `doc_id % 32 == 0` slice into a bucketed label
  * store over the rest of the corpus, each micro-batch touching far fewer
  * buckets than the store has — then a stored-labels read. Spark job
  * scheduling, planning and store file operations do the work; the HTTP
  * layers none.
  *
  * The store has N = 128 buckets. At N = 512 the same drain spread by a
  * sixth of its median between runs and the read by a quarter; at 128 both
  * stay within a few percent. */
final class LabelDrain(spark: SparkSession, seed: Long, work: String) extends Workload {
  private val docsN = 1000
  private val shingle = 3; private val hashes = 16; private val bands = 4
  private val threshold = 0.5

  // Seeded corpus with a fixed cluster shape, so every seed asks the same
  // work of the engine: in each group of four ids, the first is an
  // original, the next two are near-copies of it (one token replaced) and
  // the last is unrelated. The batch slice (doc_id % 32 == 0) holds the
  // originals of every eighth group, so absorbing it joins their copies.
  // Words are uniform over a large vocabulary: unrelated documents share
  // almost no shingles. The seed picks the words.
  private val docs: Array[(Long, String)] = {
    val rnd = new SplittableRandom(seed)
    val vocab = Array.tabulate(2000)(v => s"w${Integer.toString(v, 36)}")
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val out = new Array[(Long, String)](docsN)
    var original = Array.empty[String]
    for (i <- 0 until docsN) {
      val text = i % 4 match {
        case 0 => original = words(40 + i % 21); original
        case 1 | 2 =>
          val c = original.clone(); c(rnd.nextInt(c.length)) = vocab(rnd.nextInt(vocab.length)); c
        case _ => words(40 + i % 21)
      }
      out(i) = (i.toLong, text.mkString(" "))
    }
    out
  }
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private def frame(rows: Seq[(Long, String)]) =
    spark.createDataFrame(rows.map { case (d, t) => Row(d, t) }.asJava, schema)
  private val batchDocs = docs.count(_._1 % 32 == 0).toLong

  private val base = s"$work/base"

  /** doc → (canonical_id, is_keeper) of a stored labels artifact. */
  private def readLabels(path: String): Map[Long, (Long, Boolean)] =
    Dedup.readLabels(spark, path)
      .select(col("doc").cast("long"), col("canonical_id").cast("long"), col("is_keeper"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  /** The drain's input: the batch slice as three ordered chunk files. */
  private val streamDir =
    graft.perfbench.Staging.streamDirChunks(spark, frame(docs.filter(_._1 % 32 == 0).toSeq),
      "perfbench-stream", 3)

  /** Base generation: N = 128 bucketed labels and the LSH index over the
    * corpus without the batch slice, timed alone. Built once per run (it
    * takes about as long as a drain); each iteration drains into a scratch
    * copy of it. */
  private val baseBuildS = Main.timed {
    val corpus = frame(docs.filter(_._1 % 32 != 0).toSeq)
    Dedup.buildCanonicalLabels(corpus, "doc_id", "text", s"$base/labels",
      shingle, hashes, bands, threshold, numBuckets = 128)
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$base/idx", shingle, hashes, bands)
  }._2

  /** Expected labels: a from-scratch build over corpus + batch. It is not
    * timed, and runs on a second driver thread beside the warm-up drain. */
  private val oraclePool = java.util.concurrent.Executors.newSingleThreadExecutor()
  private val oracleF = oraclePool.submit { () =>
    Dedup.buildCanonicalLabels(frame(docs.toSeq), "doc_id", "text", s"$work/oracle",
      shingle, hashes, bands, threshold)
    readLabels(s"$work/oracle")
  }
  private lazy val oracle = oracleF.get()

  private def copyTree(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    Files.walk(s).iterator().asScala.foreach { p =>
      val t = Paths.get(dst).resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  private def dir(i: Int) = s"$work/iter-$i"

  /** One untimed drain: the first drain of a JVM runs up to half again as
    * long as the next. */
  def warmUp(): Seq[Iter] = Seq(iteration(0, None))

  def iteration(i: Int, tracer: Option[Tracer]): Iter = {
    val labels = s"${dir(i)}/labels"; val idx = s"${dir(i)}/idx"
    val (_, copyS) = Main.timed {
      copyTree(s"$base/labels", labels); copyTree(s"$base/idx", idx)
    }
    val setupS = baseBuildS + copyS
    val (filesBefore, _) = Main.treeSize(new File(dir(i)))
    tracer.foreach(_.resetCounters())
    def drain(): Unit = StreamOps.labelAbsorbDrain(spark, streamDir, s"${dir(i)}/ckpt",
      labels, idx, "doc_id", "text", shingle, hashes, bands, threshold)
    val (_, wallS) = Main.timed(tracer match {
      case Some(t) => t.span("harness.iteration")(t.span("streaming.drain")(drain()))
      case None => drain()
    })
    val root = tracer.map(_.lastRoot)
    val counters = tracer.map(_.counters())
    val reads = (1 to Main.readsPerIteration).map(_ => Main.timed(readLabels(labels)))
    val got = reads.head._1
    val bad = oracle.count { case (d, l) => !got.get(d).contains(l) } +
      got.keySet.count(d => !oracle.contains(d))
    val check = Check(oracle.size.toLong, bad.toLong)

    val layers = tracer.map { t =>
      val tree = t.tree(root.get)
      val (storeFiles, _) = Main.treeSize(new File(labels))
      val (idxFiles, _) = Main.treeSize(new File(idx))
      val (_, labelBytes) = Main.treeSize(new File(labels))
      Map(
        "operators.store_files" -> (storeFiles + idxFiles).toDouble,
        "operators.files_added" -> (storeFiles + idxFiles - filesBefore).toDouble,
        "operators.read_labels_s" -> Main.median(reads.map(_._2)),
        "operators.base_build_s" -> baseBuildS,
        "sink.files" -> storeFiles.toDouble,
        "sink.mb" -> labelBytes / 1e6) ++
        Trace.engineLayers(t, counters.get, tree, wallS) ++ Trace.selfLayers(t.selfTimes(tree), wallS)
    }.getOrElse(Map.empty)
    Main.rmTree(new File(dir(i)))
    Iter(setupS, wallS, batchDocs, reads.map(_._2), check, layers)
  }

  def layerProbes(): Map[String, Double] = Map.empty

  def close(): Unit = oraclePool.shutdownNow()
}
