package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list, by iterative
  * minimum-label propagation ("hash-to-min"): every node starts
  * labeled with its own id; each round a node's label becomes the min
  * of its own and its neighbors'; at fixpoint all nodes of a component
  * carry the component's minimum id.
  *
  * This is the operator that turns near-duplicate PAIRS (MinHash/
  * SimHash/cosine LSH joins — q33/q54/q39) into deduplication
  * CLUSTERS, so a pipeline can keep one representative per cluster
  * instead of dropping both endpoints of every pair — the standard
  * last step of corpus-level fuzzy dedup.
  *
  * Scale: each round is one shuffle of (node, label) pairs on the node
  * id plus a map-side-combined min aggregate — no adjacency matrix,
  * no driver-side graph. Each round also POINTER-JUMPS (a node adopts
  * its label's current label), so rounds are O(log diameter), not
  * O(diameter) — 25 rounds cover any component a real corpus can
  * produce (2²⁵-hop chains). The driver sees only the per-round
  * converged? scalar, never data. Non-convergence within `maxRounds`
  * THROWS instead of silently returning split components (callers
  * compare against exact transitive closures). The large-star/
  * small-star variant [Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14] is the same per-round shape if an
  * even stronger bound is ever needed.
  */
object ConnectedComponents {

  /** [[cluster]] behind a [[Staged]] parquet artifact keyed by the
    * EDGE artifact's stage key (VERDICT r15 #1): the pair graphs and
    * media hash tables were already staged per (input, threshold),
    * but the labeling over them re-ran its iterative propagation
    * inside every serve — q199 paid THREE labelings per serve, and
    * q68/q70/q160/q164/q192/q194/q195 one each. A production pipeline
    * persists component ids next to the pair graph; this is that
    * artifact. Labels are deterministic min-ids, so staging is
    * result-invisible (same oracle rows); serving becomes a plain
    * parquet scan — no eager actions, so the face is also
    * plan-dumpable like any staged query.
    *
    * @param edgeKey the stage key (or any deterministic identity) of
    *                the edge list — labeling identity follows edge
    *                identity, namespaced under `cc|`.
    */
  def clusterStaged(s: org.apache.spark.sql.SparkSession, edgeKey: String)
      (edges: => DataFrame): DataFrame =
    Staged.parquet(s, s"cc|$edgeKey")(cluster(edges))

  /** @param edges DataFrame with two columns `src`, `dst` (one row per
    *              undirected edge; both orientations implied).
    * @return (node, label) with one row per distinct endpoint; `label`
    *         is the minimum node id of the component. Deterministic.
    * @throws IllegalStateException if labels have not converged after
    *         `maxRounds` rounds (would mean silently wrong clusters).
    */
  def cluster(edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    // both orientations, so min-propagation flows the undirected graph
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    // Lineage MUST be truncated each round (Lineage.cut —
    // localCheckpoint by default, reliable checkpoint under the
    // spark.graft.checkpoint.reliable knob; the standard device for
    // iterative dataframe algorithms): each round
    // references the previous labels three times, so the logical plan
    // would otherwise grow exponentially with rounds — analysis cost
    // and plan-string rendering blow up long before the data does.
    // Superseded checkpoints are released by the ContextCleaner once
    // the driver drops its reference (labels = next below); rounds are
    // few (log diameter), so at most a handful of label snapshots
    // coexist before cleanup.
    var labels = Lineage.cut(sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // candidate labels: my own, each neighbor's current label, and —
      // pointer jumping — my label's current label. The last halves
      // the remaining hop distance to the component minimum every
      // round, which is what makes rounds logarithmic in diameter.
      val viaNeighbors = sym
        .join(labels, sym("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      val viaPointer = labels.select(col("node"), col("label").as("ptr"))
        .join(labels.select(col("node").as("p_node"), col("label").as("p_label")),
          col("ptr") === col("p_node"))
        .select(col("node"), col("p_label").as("label"))
      val next = Lineage.cut(labels.select(col("node"), col("label"))
        .unionAll(viaNeighbors)
        .unionAll(viaPointer)
        .groupBy(col("node"))
        .agg(min(col("label")).as("label")))
      // converged iff no node's label changed this round — one scalar
      // to the driver, computed distributed
      val changed = next.join(labels.withColumnRenamed("label", "prev"), "node")
        .filter(col("label") < col("prev"))
        .limit(1).count()
      labels = next
      converged = changed == 0
      rounds += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents: labels not converged after $maxRounds rounds " +
          "— returning would mean silently split components")
    labels
  }
}
