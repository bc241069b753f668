package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every input is a pure function of the seed, so
  * the same seed gives the same files, documents, vectors and change
  * stream. Shapes follow the testdata at sf0.1: 600k fact rows, 20k
  * products and 1k users for the reference pipeline; a 30-word
  * vocabulary of 10-100-word documents with planted near-duplicates and
  * 64-dimensional unit vectors in 10 clusters for the index families. */
object Inputs {

  /** Stable 64-bit mix of a seed and up to three coordinates. */
  def mix(seed: Long, a: Long = 0L, b: Long = 0L, c: Long = 0L): Long = {
    var h = seed * 0x9E3779B97F4A7C15L
    for (x <- Seq(a, b, c)) {
      h ^= x + 0x632BE59BD9B4E019L + (h << 6) + (h >>> 2)
      h = java.lang.Long.rotateLeft(h * 0xBF58476D1CE4E5B9L, 29)
    }
    h
  }

  def rng(seed: Long, a: Long = 0L, b: Long = 0L, c: Long = 0L) =
    new SplittableRandom(mix(seed, a, b, c))

  // ---- reference pipeline inputs -----------------------------------------

  /** Shapes of the testdata at sf0.1, as the program's own staging
    * (`RefOrchestration.stageDims` / `stageFactChunk`) turns them into the
    * reference inputs: `lineitem` (600k rows; part keys uniform over 20k,
    * supplier keys uniform over 1k, ship dates uniform over the 2499 days
    * from 1995-01-02, order keys uniform over 150k) becomes the fact feed,
    * split in two arriving files by order-key parity; `part` (20k rows,
    * names "<adjective> <noun>" from 8 x 8 words, 25 brands, sizes 1-50)
    * becomes `products.csv`; `supplier` (1k rows) becomes `users.csv` and
    * the `user_info.json` feed. Every fact key is present in its dimension,
    * as in the testdata. */
  val FactRows = 600000
  val ProductIds = 20000
  val Users = 1000
  private val OrderKeys = 150000
  private val FactChunks = 2
  private val ShipDays = 2499
  private val FirstShipDay = java.time.LocalDate.of(1995, 1, 2)

  /** What the benchmark expects the staged inputs to yield, computed
    * here from the generated rows, independently of the program. */
  final case class EtlExpect(ordersRows: Long, usersRows: Long,
                             productsRows: Long)

  private val adjectives = Array("blue", "cold", "hot", "large", "new",
    "old", "red", "small")
  private val genders = Array("Male", "f", "F")
  private val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate",
    "ring", "rod", "widget")

  /** Writes the reference DAG's inputs into `dir` (`orders/` with the two
    * arriving fact files, `products.csv`, `users.csv`, `user_info.json`),
    * in the layout and with the value mappings of the program's staging:
    * Price is the part size, Document is the supplier key + 100000, the
    * birthday is 199<key % 10>-01-02, the gender Male/f/F by key % 3. */
  def stageEtl(dir: String, seed: Long, factRows: Int = FactRows): EtlExpect = {
    val r = rng(seed, 1)
    // the keys each staged file holds, for the benchmark's own join count
    val products = scala.collection.mutable.BitSet.empty
    val users = scala.collection.mutable.BitSet.empty
    val documents = scala.collection.mutable.BitSet.empty
    def write(path: String)(body: BufferedWriter => Unit): Unit = {
      val f = new File(path)
      f.getParentFile.mkdirs()
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(f), UTF_8), 1 << 16)
      try body(w) finally w.close()
    }
    write(s"$dir/products.csv") { w =>
      w.write("Id,Name,Category,Price\n")
      for (id <- 0 until ProductIds) {
        products += id
        w.write(s"$id,${adjectives(r.nextInt(adjectives.length))} " +
          s"${nouns(r.nextInt(nouns.length))},Brand#${1 + r.nextInt(25)}," +
          s"${1 + r.nextInt(50)}\n")
      }
    }
    write(s"$dir/users.csv") { w =>
      w.write("Id,Document\n")
      for (id <- 0 until Users) {
        users += id
        w.write(s"$id,${100000 + id}\n")
      }
    }
    // one JSON document {status, data: [...]}, as to_json writes it
    write(s"$dir/user_info.json") { w =>
      w.write("{\"status\":200,\"data\":[")
      for (k <- 0 until Users) {
        if (k > 0) w.write(",")
        val name = f"Supplier#$k%09d"
        val gender = genders(k % 3)
        documents += k
        w.write(s"""{"document":${100000 + k},"name":"$name",""" +
          s""""birthday":"199${k % 10}-01-02T00:00:00","gender":"$gender",""" +
          s""""email":"$name@x.com","phone":"$k"}""")
      }
      w.write("]}\n")
    }
    val dates = Array.tabulate(ShipDays)(i =>
      FirstShipDay.plusDays(i.toLong).toString)
    val chunks = (0 until FactChunks).map(k =>
      new File(s"$dir/orders/chunk$k.csv"))
    chunks.head.getParentFile.mkdirs()
    val ws = chunks.map(f => new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), UTF_8), 1 << 16))
    // a fact row joins when its product, its user and the user's
    // user_info document (Document - 100000) are all staged
    var joined = 0L
    try {
      ws.foreach(_.write("Fecha,Product_ID,User_ID\n"))
      for (_ <- 0 until factRows) {
        val w = ws(r.nextInt(OrderKeys) % FactChunks)
        val p = r.nextInt(ProductIds)
        val u = r.nextInt(Users)
        if (products(p) && users(u) && documents(u)) joined += 1
        w.write(dates(r.nextInt(ShipDays)))
        w.write(s",$p,$u\n")
      }
    } finally ws.foreach(_.close())
    EtlExpect(joined, (users & documents).size, products.size)
  }

  // ---- index-family inputs -----------------------------------------------

  val BatchRows = 60
  val DocsBase = 5000
  val VecsBase = 2000
  val Dim = 64
  private val vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Text of document `id` at `version` (0 = first image; an upsert bumps
    * it). One in twenty first images is a near-duplicate of an earlier
    * document with " dup" appended, as in the testdata. */
  def docText(seed: Long, id: Long, version: Int): String = {
    val r = rng(seed, 2, id, version)
    if (version == 0 && id >= 16 && r.nextInt(20) == 0)
      docText(seed, id - 1 - r.nextInt(15), 0) + " dup"
    else randomText(r, 10 + r.nextInt(91))
  }

  def randomText(r: SplittableRandom, words: Int): String =
    Iterator.fill(words)(vocab(r.nextInt(vocab.length))).mkString(" ")

  private def centers(seed: Long): Array[Array[Double]] =
    Array.tabulate(10) { c =>
      val r = rng(seed, 3, c)
      Array.fill(Dim)(r.nextGaussian())
    }

  /** Unit vector `id` at `version`: one of ten seeded cluster centres
    * plus noise. */
  def vector(seed: Long, id: Long, version: Int): Array[Float] = {
    val r = rng(seed, 4, id, version)
    val c = centers(seed)(r.nextInt(10))
    val v = c.map(x => x + 0.6 * r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** One change batch: ids deleted and ids (re)inserted at a version. */
  final case class Batch(id: Long, shape: String, deletes: Seq[Long],
                         inserts: Seq[(Long, Int)])

  /** A seeded change stream over ids `0 until base`. The caller picks
    * each batch's shape: insert-only, delete-only or upsert, of
    * `BatchRows` rows (fixed, so every seed does the same amount of work).
    * Inserts are fresh ids, plus re-inserts of deleted ids; deletes and
    * upserts pick live ids. Ids below `keep` are never deleted (the IVF
    * quantizer seeds on them). */
  final class History(seed: Long, base: Int, keep: Int) {
    private val r = rng(seed, 5)
    private val live = ArrayBuffer.from(keep.toLong until base.toLong)
    private val dead = ArrayBuffer.empty[Long]
    private val version = scala.collection.mutable.Map.empty[Long, Int]
    private var next = base.toLong
    private var made = 0L

    def liveIds: Set[Long] = (0L until keep.toLong).toSet ++ live
    def versionOf(id: Long): Int = version.getOrElse(id, 0)

    private def take(from: ArrayBuffer[Long]): Long = {
      val i = r.nextInt(from.size)
      val id = from(i)
      from(i) = from.last
      from.remove(from.size - 1)
      id
    }

    def nextBatch(shape: String): Batch = {
      val n = BatchRows
      val b = shape match {
        case "insert" =>
          val re = math.min(dead.size, n / 5)
          val ids = Seq.fill(re)(take(dead)) ++
            Seq.fill(n - re) { next += 1; next - 1 }
          ids.foreach { id => version(id) = versionOf(id) + 1; live += id }
          Batch(made, shape, Nil, ids.map(id => id -> versionOf(id)))
        case "delete" =>
          val ids = Seq.fill(math.min(n, live.size - 1))(take(live))
          dead ++= ids
          Batch(made, shape, ids, Nil)
        case "upsert" =>
          val ids = Seq.fill(math.min(n, live.size - 1))(take(live))
          ids.foreach(id => version(id) = versionOf(id) + 1)
          live ++= ids
          Batch(made, shape, ids, ids.map(id => id -> versionOf(id)))
      }
      made += 1
      b
    }
  }
}
