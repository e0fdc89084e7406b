package graft

import graft.operators.Components

/** [[Components.connectedComponents]] beyond its x14 instantiation: the
  * contracted-rounds + singleton-rejoin shape, early stop, and the
  * reliable-checkpoint knob for cluster runs (localCheckpoint blocks die
  * with an executor; `checkpointDir` trades a per-round write for
  * surviving that).
  */
class ComponentsSpec extends SparkSpec {

  import spark.implicits._

  test("chains, separate components, and isolated vertices") {
    // 1-2-3-4-5 is a 4-hop chain (exercises pointer jumping),
    // 10-11 a second component, 7/8/9 isolated singletons
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L, 10L, 11L).toDF("id")
    val out = Components
      .connectedComponents(edges, "src", "dst", verts, "id", maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      7L -> 7L, 8L -> 8L, 9L -> 9L, 10L -> 10L, 11L -> 10L))
  }

  test("reliable checkpoint path: same labels, rounds land in the dir") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val verts = (1L to 6L).toDF("id")
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val out = Components
      .connectedComponents(edges, "src", "dst", verts, "id",
        maxRounds = 12, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 5L, 6L -> 5L))
    // the rounds really checkpointed into the reliable store
    def countFiles(f: java.io.File): Int =
      if (f.isFile) 1 else Option(f.listFiles).fold(0)(_.map(countFiles).sum)
    assert(countFiles(new java.io.File(dir)) > 0,
      s"no reliable-checkpoint data under $dir")
  }

  test("edgeless graph: every vertex is its own component") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val verts = Seq(3L, 4L).toDF("id")
    val out = Components
      .connectedComponents(edges, "src", "dst", verts, "id", maxRounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(3L -> 3L, 4L -> 4L))
  }

  test("caller column names never collide with the loop's plumbing") {
    // "label"/"id" are the names most likely to clash with an internal
    // working column — they must pass through untouched
    val edges = Seq((1L, 2L)).toDF("label", "id")
    val verts = Seq(1L, 2L, 3L).toDF("label")
    val out = Components
      .connectedComponents(edges, "label", "id", verts, "label", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // the one reserved name is the output column itself
    val e = intercept[IllegalArgumentException] {
      Components.connectedComponents(edges, "label", "id",
        verts.toDF("component"), "component", 4)
    }
    assert(e.getMessage.contains("component"))
  }

  test("a non-integral id column fails up front, naming the column") {
    // a string id would cast to NULL inside the decimal Φ sum and
    // silently reduce the certificate to a count-only check
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val verts = Seq("a", "b", "c").toDF("id")
    val e = intercept[IllegalArgumentException] {
      Components.connectedComponents(edges, "src", "dst", verts, "id", 4)
    }
    assert(e.getMessage.contains("'src'") && e.getMessage.contains("string"))
    val longEdges = Seq((1L, 2L)).toDF("src", "dst")
    val e2 = intercept[IllegalArgumentException] {
      Components.connectedComponents(longEdges, "src", "dst", verts, "id", 4)
    }
    assert(e2.getMessage.contains("'id'"))
  }

  test("random graphs match a reference union-find (seeded)") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 20 + rng.nextInt(30)
      val nEdges = rng.nextInt(2 * n)
      val es = Seq.fill(nEdges)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: textbook union-find with min-root components
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val edges = (if (es.isEmpty) Seq((0L, 0L)).take(0) else es)
        .toDF("src", "dst")
      val verts = (0L until n.toLong).toDF("id")
      val out = Components
        .connectedComponents(edges, "src", "dst", verts, "id",
          maxRounds = 12)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == expected, s"trial $trial (n=$n, edges=${es.size})")
    }
  }
}
