package graft

import graft.queries.Registry

/** Contract checks on the driver-facing registry: names unique, every
  * query declared with an oracle, flagship entry wired, and every query
  * executable end-to-end at the smallest SF with deterministic output. */
class RegistrySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    // q_ann_ivf / q_ann_pq fail fast without their trained models
    // (training is an explicit setup step, never part of a query) —
    // mirror Bench/Verify.
    graft.queries.SimilarityQueries.trainIvfCentroids(spark, sf)
    graft.queries.SimilarityQueries.trainIvfAssignments(spark, sf)
    graft.queries.SimilarityQueries.trainPqCodes(spark, sf)
    graft.queries.TextQueries.trainBpeMerges(spark, sf)
    graft.queries.TextQueries.trainUnigramPieces(spark, sf)
    graft.queries.DedupQueries.Text.trainClusterLabels(spark, sf)
    graft.queries.MultimodalQueries.Image.trainClusterLabels(spark, sf)
  }

  test("query names are unique and non-empty") {
    val names = Registry.all.map(_.name)
    assert(names.nonEmpty && names.distinct.size == names.size)
  }

  test("every query has an oracle (t2 gate requires both)") {
    val missing = Registry.all.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("SparkEntry.entry returns rows at sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and is deterministic across two runs") {
    Registry.all.foreach { q =>
      val a = q.fn(spark, sf)
      val n = a.count()
      withClue(s"${q.name}: ") {
        assert(n >= 0)
        // re-run → identical multiset of rows (no wall-clock/nondeterminism)
        val again = q.fn(spark, sf)
        assert(a.collect().toSeq.map(_.toString).sorted ==
          again.collect().toSeq.map(_.toString).sorted)
      }
    }
  }

  test("oracle column aliases match Spark result columns") {
    // The driver sorts columns by name before hashing — a name drift is an
    // automatic mismatch even with identical values. Cheap structural guard:
    // every Spark result column name must appear in the oracle SQL text.
    Registry.all.foreach { q =>
      val cols = q.fn(spark, sf).columns
      val sql = q.oracle.get.toLowerCase
      val missing = cols.filterNot(c => sql.contains(c.toLowerCase))
      withClue(s"${q.name}: columns missing from oracle SQL: ") {
        assert(missing.isEmpty, missing.mkString(","))
      }
    }
  }

  test("label-artifact oracle soundness: each modality's closure stays independently re-derived") {
    // The cross-modal oracles (q_caption_conflicts, q_crossmodal_*) read
    // the engine's persisted label artifacts via __CLUSTER_LABELS_<KIND>__
    // tokens instead of re-deriving four closure CTE chains — sound ONLY
    // while each kind's closure is independently re-derived and
    // hash-certified by its own clusters query. Tie that dependency down:
    // the four certifying queries must exist, carry an oracle, and that
    // oracle must NOT itself read the label artifact (else the
    // certification would be circular and removing/weakening one query
    // would silently degrade every token-reading oracle).
    val certifying = Seq("q_dedup_clusters", "q_media_clusters",
      "q_audio_clusters", "q_video_clusters")
    certifying.foreach { n =>
      val q = Registry.all.find(_.name == n)
      assert(q.isDefined, s"$n missing — the label-artifact tokens in the " +
        "cross-modal oracles lost their certifying query")
      assert(q.get.oracle.isDefined, s"$n has no oracle")
      assert(!q.get.oracle.get.contains("__CLUSTER_LABELS_"),
        s"$n's oracle reads the label artifact it exists to certify")
    }
  }

  test("OPERATORS.md is the current render of the registry (regenerate on drift)") {
    // the manual is generated, but generated files still drift if the
    // regen step is forgotten — sbt runs tests from the repo root, so
    // render against the same sources and compare bytes
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("OPERATORS.md")), "UTF-8")
    assert(OperatorManual.render(".") == committed,
      "OPERATORS.md is stale — run `sbt \"runMain graft.OperatorManual\"`")
  }
}
