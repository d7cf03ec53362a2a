package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Knn

class ExactSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val rng = new scala.util.Random(7)
  private val vecs: Map[Long, Array[Float]] =
    (0L until 60L).map(i => i -> Array.fill(8)((rng.nextDouble() * 2 - 1).toFloat)).toMap
  private val q = Array.fill(8)((rng.nextDouble() * 2 - 1).toFloat)

  test("the exact top-10 reference equals Knn.topK on a tiny input") {
    val s = spark
    import s.implicits._
    graft.expressions.GraftFunctions.register(s)
    val df = vecs.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val graftTop = Knn.topK(df, Seq(Tuple1(q.toSeq)).toDF("qe"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Exact.topK(vecs, q, 10)
    assert(graftTop.map(_._1) == exact.map(_._1))
    graftTop.zip(exact).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-6) }
    assert(Exact.checkTopK(vecs, q, 10, graftTop).isEmpty)
  }

  test("the check rejects a short, reordered or wrong answer") {
    val exact = Exact.topK(vecs, q, 10)
    assert(Exact.checkTopK(vecs, q, 10, exact.init).isDefined)
    assert(Exact.checkTopK(vecs, q, 10, exact.reverse).isDefined)
    val outsider = Exact.topK(vecs, q, 60).last
    assert(Exact.checkTopK(vecs, q, 10, exact.init :+ outsider).isDefined)
    assert(Exact.checkTopK(vecs, q, 10, exact.map { case (id, s) => (id, s + 0.01) }).isDefined)
  }

  test("recall counts the exact ids found") {
    assert(Exact.recall(Seq(1L, 2L, 3L), Seq(1L, 2L, 4L, 5L)) == 0.5)
  }
}
