package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level sweep of driver-side `.collect()` sites — the
  * WindowContractSpec treatment for the other unbounded-driver-memory
  * hazard (round-10 verdict task 2). Every `.collect()` in `src/main`
  * (tools/ excluded: inventory/bench mains are driver programs by
  * design) pulls a DataFrame/RDD into driver memory, so each site must
  * be bounded by a documented contract — a require-guarded
  * driver-collectable cap, the small branch of a size dispatch, a
  * `limit(k)` frame, or a domain bounded by construction (category
  * grain, per-partition tuples, a 1-row aggregate) — and appear in the
  * allow-list below with that rationale and its exact site count. A
  * NEW collect (new file, or an added site in a listed file) fails
  * this spec until it is guarded and listed.
  */
class CollectContractSpec extends AnyFunSuite {

  /** file (relative to src/main/scala) → (expected `.collect()` site
    * count, bounding contract). */
  private val allowed: Map[String, (Int, String)] = Map(
    "graft/graph/DriverCollect.scala" ->
      (1, "the one driver collect of the graph operators: limit(cap + 1), " +
        "so <= cap + 1 rows of a frame reach the driver before the " +
        "size dispatch or the driver-collectable guard decides"),
    "graft/graph/Centrality.scala" ->
      (2, "betweenness's per-partition Brandes vectors after the " +
        "partition-order tree merge (<= ~sqrt(P) node-length vectors, " +
        "behind the driver-collectable guard); the 1-row " +
        "convergence-error probe of the distributed eigenvector loop. " +
        "The pipeline's scorer (networkScores) collects nothing: it " +
        "takes the graph the pipeline already holds"),
    "graft/pipeline/DrugTargetPipeline.scala" ->
      (2, "gene-grain tables through one collect-then-write helper: the " +
        "volcano data, and the significant table, whose rows also give " +
        "the network's genes and the summary's counts; the variance " +
        "fallback's top-N gene names (limit(nTopGenes)). The edges, " +
        "scores, figure tables and top 10 are cut from driver rows, " +
        "with no collect"),
    "graft/net/CoExpressionNetwork.scala" ->
      (1, "the top-N gene vectors the pairwise correlations are computed " +
        "from: limit(MaxDriverGenes + 1) behind a require guard " +
        "(2,000 vectors of #samples doubles; the pipeline takes 500)"),
    "graft/prep/Ipf.scala" ->
      (3, "row/column marginal target maps + seed cells, all behind " +
        "the maxCells require guard (category-grain by contract)"),
    "graft/ann/Similarity.scala" ->
      (3, "IVF seed rows via limit(nLists); MMR winner via limit(1) " +
        "per iteration (k iterations, k bounded by the API contract)"),
    "graft/util/Ranks.scala" ->
      (2, "distributed-branch per-partition (count, sum) tuples — a " +
        "few longs per partition, not data rows"),
    "graft/util/Profile.scala" ->
      (1, "per-column profile branch rows — one row per profiled " +
        "column by construction (replaces the previous 1-row head())"),
    "graft/util/Quantiles.scala" ->
      (3, "histogram rows (<= 65536 bucket counts); target-bucket " +
        "values behind the CollectCap <= 262144 guard; window-fallback " +
        "rows (<= 2 per requested percentile by construction)"),
    "graft/ml/KMeans.scala" ->
      (2, "seed centroids via orderBy().limit(k); per-round means " +
        "(<= k group rows, k bounded by the API contract)"),
    "graft/sketch/Sketches.scala" ->
      (2, "1-row exact-count aggregate + bottom-k sketch via limit(k)"),
    "graft/ml/Pca.scala" ->
      (2, "dimension-grain means / covariance cells (<= d and d^2 " +
        "rows; d is the feature-vector width, guarded upstream)"),
    "graft/geo/GeoMatrixReader.scala" ->
      (1, "ID_REF header + '!' metadata lines in one collect — " +
        "#samples x #characteristic-keys, dimension-sized by the format"),
    "graft/de/Stats.scala" ->
      (2, "bhAdjustDistributed per-partition rank offsets — one long " +
        "per partition, twice (rank pass + cummin pass)"),
    "graft/text/PhraseSearch.scala" ->
      (1, "token-frequency probe bounded by |phrase| distinct tokens"),
    "graft/sample/Sampling.scala" ->
      (1, "strata-grain count map — category domain by the stratified " +
        "sampling contract"),
    "graft/ml/Boost.scala" ->
      (1, "value-domain cells behind the maxCells require guard"),
    "graft/events/Attribution.scala" ->
      (1, "(channels+1) x (channels+2) Markov transition matrix — " +
        "channel-grain by construction"),
    "graft/dedup/Dedup.scala" ->
      (1, "union-find small branch of the <= 2M-edge dispatch — " +
        "star-contraction label propagation above"),
    "graft/de/DifferentialExpression.scala" ->
      (1, "GEO sample-metadata table — sample-grain (a platform has " +
        "dozens to hundreds of samples, never fact rows)"),
    "graft/catalog/CatalogDomain.scala" ->
      (1, "limit(100) frame collected for stored-order ranking"))

  /** Count `.collect()` sites per .scala file under `root`, skipping
    * `graft/tools/`. Factored out so the planted-violation self-test
    * can run the same scanner over a synthetic tree. */
  private[catalog] def scan(root: Path): Map[String, Int] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val rel = root.relativize(p).toString
        val n = Files.readAllLines(p).asScala
          .count(_.contains(".collect()"))
        rel -> n
      }
      .filter { case (rel, n) => n > 0 && !rel.startsWith("graft/tools/") }
      .toMap

  test("every driver-side .collect() site in src/main is allow-listed " +
    "with a bounding contract, and the allow-list is not stale") {
    val found = scan(Paths.get("src/main/scala"))
    val unlisted = found.keySet.diff(allowed.keySet)
    assert(unlisted.isEmpty,
      s"unlisted .collect() sites: ${unlisted.map(f => s"$f (${found(f)})")} " +
        "— bound the site (require guard / size dispatch / limit(k)) " +
        "and add it here with the rationale")
    val stale = allowed.keySet.diff(found.keySet)
    assert(stale.isEmpty, s"stale allow-list files (no sites remain): $stale")
    val drifted = allowed.collect {
      case (f, (n, _)) if found(f) != n => s"$f: expected $n, found ${found(f)}"
    }
    assert(drifted.isEmpty,
      s"site-count drift (new or removed collects): $drifted")
  }

  test("planted violation: the scanner catches a new fact-grain " +
    "collect in a synthetic tree") {
    val dir = Files.createTempDirectory("collect-contract-self-test")
    try {
      val pkg = dir.resolve("graft/bad")
      Files.createDirectories(pkg)
      Files.writeString(pkg.resolve("Bad.scala"),
        "object Bad { def f(df: org.apache.spark.sql.DataFrame) = " +
          "df.collect() }\n")
      // and a tools file, which must stay exempt
      val tools = dir.resolve("graft/tools")
      Files.createDirectories(tools)
      Files.writeString(tools.resolve("T.scala"),
        "object T { def f(df: org.apache.spark.sql.DataFrame) = " +
          "df.collect() }\n")
      val found = scan(dir)
      assert(found == Map("graft/bad/Bad.scala" -> 1))
    } finally {
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }
}
