package graft.streaming

/** Partition-replica rebalance planner (reference:
  * cli/src/main/scala/RebalanceTool.scala — "Tool for rebalancing
  * partition replicas and leaders across kafka cluster").
  *
  * The reference reads cluster state from ZooKeeper, computes a target
  * assignment, prints the diff, and emits the
  * kafka-reassign-partitions.sh JSON plan. The build has no ZooKeeper or
  * Kafka client (see README), so — the usual
  * seam pattern — ALL of the decision logic lives here as pure functions
  * over an explicit cluster snapshot, unit-tested; a deployment feeds it
  * from AdminClient.describeTopics/describeCluster (~15 lines).
  *
  * Target rule (RebalanceTool.scala:83): replica r of partition p lands on
  * `brokers((p + r) % numBrokers)` over the sorted surviving broker list —
  * round-robin with stride 1, which (a) spreads each partition's replicas
  * across distinct brokers, (b) rotates leadership (r = 0) uniformly, and
  * (c) is deterministic given the same snapshot.
  */
object Rebalance {

  /** One partition's current vs target replica list.
    * `modified` drives both the highlighted diff and the plan filter
    * (unmodified assignments are never submitted). */
  final case class Assignment(
      topic: String,
      partition: Int,
      replicas: List[Int],
      target: List[Int]) {
    def modified: Boolean = replicas != target
    override def toString: String =
      s"topic: $topic, partition: $partition, current-replicas: [${replicas.mkString(",")}]" +
        (if (modified) s", target-replicas: [${target.mkString(",")}]" else "")
  }

  /** Compute the target assignment for every (topic, partition) in
    * `current`, excluding `ignoreBrokers` from the candidate set
    * (the drain-a-broker workflow). Fails like the reference when the
    * surviving broker count cannot satisfy the replication factor. */
  def propose(
      current: Map[(String, Int), List[Int]],
      brokers: List[Int],
      replicationFactor: Int,
      ignoreBrokers: Set[Int] = Set.empty): List[Assignment] = {
    require(replicationFactor >= 1, "Target replication factor must be at least 1")
    val live = brokers.filterNot(ignoreBrokers).distinct.sorted
    require(live.length >= replicationFactor,
      s"Target replication factor $replicationFactor is higher than number of available brokers: ${live.length}")
    current.toList.sortBy { case ((t, p), _) => (t, p) }.map {
      case ((topic, partition), replicas) =>
        val target = (0 until replicationFactor).toList
          .map(r => live((partition + r) % live.length))
        Assignment(topic, partition, replicas, target)
    }
  }

  /** The kafka-reassign-partitions.sh JSON plan over the MODIFIED
    * assignments (reference RebalanceTool.scala:105-127 emits
    * `{"version":1,"partitions":[{topic,partition,replicas},...]}`).
    * Returns None when everything is already balanced ("All topics are
    * balanced" — nothing to submit). */
  def planJson(assignments: List[Assignment]): Option[String] = {
    val changed = assignments.filter(_.modified)
    if (changed.isEmpty) None
    else Some {
      val parts = changed.map { a =>
        s"""{"topic":"${a.topic}","partition":${a.partition},"replicas":[${a.target.mkString(",")}]}"""
      }
      s"""{"version":1,"partitions":[${parts.mkString(",")}]}"""
    }
  }
}
