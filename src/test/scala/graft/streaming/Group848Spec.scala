package graft.streaming

import java.net.Socket
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** KIP-848 next-generation consumer protocol over real sockets
  * (VERDICT r6 directive 2): ConsumerGroupHeartbeat (68) drives
  * join → epoch bump → incremental revoke/grant reconciliation →
  * leave, with per-member epoch fencing; ConsumerGroupDescribe (69)
  * exposes the coordinator's view. Partition ownership moves ONLY
  * through the revoke-then-grant handshake — the spec walks a
  * two-member rebalance and asserts no partition is ever assigned to
  * both members at once. */
class Group848Spec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def exchange(sock: Socket, request: Array[Byte]): Array[Byte] =
    WireTestClient.exchange(sock, request)

  test("heartbeat and describe codecs round-trip, null variants included") {
    val resolver = topicIdResolverFor(Seq("t1", "t2"))
    val full = decodeConsumerGroupHeartbeatRequest(
      encodeConsumerGroupHeartbeatRequest(7, "cli", "g", "m1", 3,
        Seq("t1", "t2"), Seq(("t1", Seq(0, 2))), "uniform", "inst", "rack",
        30000), resolver)
    assert(full === CGHeartbeatRequest(7, "cli", "g", "m1", 3, "inst",
      "rack", 30000, Seq("t1", "t2"), null, "uniform",
      Seq(("t1", Seq(0, 2)))))
    val sparse = decodeConsumerGroupHeartbeatRequest(
      encodeConsumerGroupHeartbeatRequest(8, "cli", "g", "m1", 4), resolver)
    assert(sparse.subscribedTopicNames === null)
    assert(sparse.topicPartitions === null)
    assert(sparse.serverAssignor === null)
    assert(sparse.subscribedTopicRegex === null)
    // v1 carries the regex; a v0 frame never does
    val v1 = decodeConsumerGroupHeartbeatRequest(
      encodeConsumerGroupHeartbeatRequest(12, "cli", "g", "m1", 0,
        subscribedTopicRegex = "t.*", version = 1), resolver)
    assert(v1.subscribedTopicRegex === "t.*")
    assert(v1.subscribedTopicNames === null)
    // hand-laid golden v1 frame: the regex rides AFTER the (null)
    // subscribed-names array and BEFORE the assignor
    val golden = Array[Int](
      0x00, 0x00, 0x00, 0x21, // frame size 33
      0x00, 0x44, // api_key 68
      0x00, 0x01, // version 1
      0x00, 0x00, 0x00, 0x07, // correlation id 7
      0x00, 0x01, 0x63, // client id "c"
      0x00, // header tags
      0x02, 0x67, // group id "g" (compact)
      0x01, // member id "" (compact, empty)
      0x00, 0x00, 0x00, 0x00, // member epoch 0
      0x00, // instance id null
      0x00, // rack id null
      0xff, 0xff, 0xff, 0xff, // rebalance timeout -1
      0x00, // subscribed names: null array
      0x04, 0x74, 0x2e, 0x2a, // regex "t.*" (compact)
      0x00, // assignor null
      0x00, // owned partitions: null array
      0x00 // body tags
    ).map(_.toByte)
    assert(encodeConsumerGroupHeartbeatRequest(7, "c", "g", "", 0,
      subscribedTopicRegex = "t.*", version = 1) === golden)

    val some = decodeConsumerGroupHeartbeatResponse(
      encodeConsumerGroupHeartbeatResponse(9, 0, null, "m1", 5, 3000,
        Some(Seq(("t1", Seq(0, 1))))), resolver)
    assert(some === ((9, 0, null, "m1", 5, 3000, Some(Seq(("t1", Seq(0, 1)))))))
    val none = decodeConsumerGroupHeartbeatResponse(
      encodeConsumerGroupHeartbeatResponse(10, 110, "fenced", "m1", 5, 3000,
        None), resolver)
    assert(none._2 === 110)
    assert(none._7 === None)

    val (corr, groups) = decodeConsumerGroupDescribeResponse(
      encodeConsumerGroupDescribeResponse(11, Seq(CGDescribedGroup(0, null,
        "g", "Stable", 4, 4, "uniform", Seq(CGDescribedMember("m1", null,
          null, 4, "cli", "", Seq("t1"), null, Seq(("t1", Seq(0))),
          Seq(("t1", Seq(0, 1)))))))))
    assert(corr === 11)
    assert(groups.head.members.head.targetAssignment === Seq(("t1", Seq(0, 1))))
  }

  test("two-member lifecycle: join, epoch bumps, revoke-then-grant handover, leave") {
    val root = Files.createTempDirectory("graft-848").toString
    val broker = new Broker(spark, root)
    broker.createTopic("g848", 4)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    val resolver = topicIdResolverFor(Seq("g848"))
    def hb(corr: Int, memberId: String, epoch: Int,
        subs: Seq[String] = null, owned: Seq[(String, Seq[Int])] = null,
        assignor: String = null) =
      decodeConsumerGroupHeartbeatResponse(exchange(sock,
        encodeConsumerGroupHeartbeatRequest(corr, "cli", "life", memberId,
          epoch, subs, owned, assignor)), resolver)
    def parts(a: Option[Seq[(String, Seq[Int])]]): Set[Int] =
      a.toSeq.flatten.flatMap(_._2).toSet
    try {
      // A joins with an EMPTY member id: the coordinator generates one
      val (_, e1, idA, epochA1, interval, asgA1) = {
        val r = hb(1, "", 0, subs = Seq("g848"))
        (r._1, r._2, r._4, r._5, r._6, r._7)
      }
      assert(e1 === 0)
      assert(idA.nonEmpty)
      assert(interval === 3000)
      assert(epochA1 === 1, "first join bumps the group epoch to 1")
      assert(parts(asgA1) === Set(0, 1, 2, 3), "sole member gets every partition")
      // A confirms ownership; nothing changed → null assignment
      val ackA = hb(2, idA, epochA1, owned = Seq(("g848", Seq(0, 1, 2, 3))))
      assert(ackA._2 === 0)
      assert(ackA._7 === None)

      // B joins with its own id: epoch bumps, but B is granted ONLY
      // what A doesn't hold — nothing yet
      val rB = hb(3, "member-b", 0, subs = Seq("g848"))
      assert(rB._2 === 0)
      assert(rB._5 === 2, "second join bumps the group epoch")
      assert(parts(rB._7).isEmpty,
        "no partition may be granted while its owner still holds it")

      // A's next heartbeat (still at its old epoch): told to SHRINK to
      // its share of the new target, epoch HELD until it reports
      val shrinkA = hb(4, idA, epochA1)
      assert(shrinkA._2 === 0)
      assert(shrinkA._5 === epochA1, "epoch held until the revocation is reported")
      val keepA = parts(shrinkA._7)
      assert(keepA.size === 2, s"uniform split of 4 over 2 members, got $keepA")

      // A reports the revocation → advances to the group epoch
      val confirmA = hb(5, idA, epochA1,
        owned = Seq(("g848", keepA.toSeq.sorted)))
      assert(confirmA._5 === 2)
      assert(parts(confirmA._7) === keepA)

      // B now receives the released partitions and reports them
      val grantB = hb(6, "member-b", 2)
      val gotB = parts(grantB._7)
      assert(gotB === (Set(0, 1, 2, 3) -- keepA),
        "the handover completes exactly the released set")
      assert(gotB.intersect(keepA).isEmpty, "no partition has two owners")
      val ackB = hb(7, "member-b", 2, owned = Seq(("g848", gotB.toSeq.sorted)))
      assert(ackB._2 === 0)

      // describe: Stable, both members at the group epoch
      val (_, described) = decodeConsumerGroupDescribeResponse(exchange(sock,
        encodeConsumerGroupDescribeRequest(8, "cli", Seq("life", "ghost"))))
      val g = described.head
      assert(g.errorCode === 0)
      assert(g.groupState === "Stable")
      assert(g.groupEpoch === 2)
      assert(g.members.map(_.memberEpoch) === Seq(2, 2))
      assert(g.members.flatMap(_.assignment.flatMap(_._2)).sorted
        === Seq(0, 1, 2, 3))
      assert(described(1).errorCode === 69, "unknown group answers 69")

      // A leaves: epoch bumps, B's next heartbeat grants everything
      val leaveA = hb(9, idA, -1)
      assert(leaveA._2 === 0)
      assert(leaveA._5 === -1)
      val allB = hb(10, "member-b", 2)
      assert(allB._5 === 3)
      assert(parts(allB._7) === Set(0, 1, 2, 3))
    } finally { sock.close(); server.close() }
  }

  test("v1 regex subscription: resolves, tracks topic creation, rejects bad patterns") {
    val root = Files.createTempDirectory("graft-848-regex").toString
    val broker = new Broker(spark, root)
    broker.createTopic("logs-a", 2)
    broker.createTopic("logs-b", 1)
    broker.createTopic("other", 1)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    val resolver = topicIdResolverFor(Seq("logs-a", "logs-b", "logs-c", "other"))
    def hb(corr: Int, memberId: String, epoch: Int, regex: String = null,
        owned: Seq[(String, Seq[Int])] = null) =
      decodeConsumerGroupHeartbeatResponse(exchange(sock,
        encodeConsumerGroupHeartbeatRequest(corr, "cli", "rx", memberId,
          epoch, null, owned, null, null, null, -1, regex, 1)), resolver)
    def grantedTopics(r: (Int, Int, String, String, Int, Int,
        Option[Seq[(String, Seq[Int])]])) =
      r._7.map(_.map(_._1).toSet)
    try {
      // join by regex alone (no names): matches logs-*, not other
      val join = hb(1, "", 0, regex = "logs-.*")
      assert(join._2 === 0)
      val id = join._4
      assert(join._5 === 1)
      assert(grantedTopics(join) === Some(Set("logs-a", "logs-b")))
      assert(join._7.map(_.flatMap(_._2).size) === Some(3))

      // steady state at the granted set: no new assignment
      val ack = hb(2, id, 1,
        owned = Seq(("logs-a", Seq(0, 1)), ("logs-b", Seq(0))))
      assert(ack._2 === 0 && ack._7 === None)

      // a topic created AFTER the subscription joins the target at
      // the next heartbeat — the epoch bumps like any sub change
      broker.createTopic("logs-c", 1)
      val grown = hb(3, id, 1)
      assert(grown._2 === 0)
      assert(grown._5 === 2, "regex re-resolution must bump the epoch")
      assert(grantedTopics(grown) === Some(Set("logs-a", "logs-b", "logs-c")))

      // describe reports the pattern itself
      val (_, described) = decodeConsumerGroupDescribeResponse(exchange(sock,
        encodeConsumerGroupDescribeRequest(4, "cli", Seq("rx"))))
      assert(described.head.members.head.subscribedTopicRegex === "logs-.*")

      // an invalid pattern answers INVALID_REGULAR_EXPRESSION (125)
      // in-band — AK 4.0's code for an unusable v1 pattern — group
      // untouched
      val bad = hb(5, "", 0, regex = "[unclosed")
      assert(bad._2 === 125)
      val still = hb(6, id, 2)
      assert(still._2 === 0 && still._5 === 2)

      // the RE2-subset guard: constructs java.util.regex accepts but
      // RE2 (the engine a real 4.0 broker evaluates) does not —
      // backreferences, lookaround, atomic groups, Java named groups,
      // possessive quantifiers — answer 125 instead of silently
      // matching DIFFERENT topics than a real broker would; rejection
      // happens before any group mutation, so these legs are inert
      assert(hb(50, "", 0, regex = "(logs-)\\1")._2 === 125)
      assert(hb(51, "", 0, regex = "logs-(?=a).*")._2 === 125)
      assert(hb(52, "", 0, regex = "(?<=x)logs-.*")._2 === 125)
      assert(hb(53, "", 0, regex = "(?<name>logs)-.*")._2 === 125)
      assert(hb(54, "", 0, regex = "logs-a*+b")._2 === 125)
      assert(hb(55, "", 0, regex = "(?>logs)-.*")._2 === 125)
      // ... while escaped/class forms of the same characters pass the
      // guard, and shared syntax ((?:, (?i)) stays legal
      import Group848Coordinator.{unsupportedRegexConstruct => guard}
      assert(guard("logs-\\(\\?=a.*") === None)
      assert(guard("[(?=]logs") === None)
      assert(guard("(?:logs|metrics)-.*") === None)
      assert(guard("(?i)LOGS-.*") === None)
      assert(guard("a\\\\1") === None) // \\ is a literal backslash, then '1'
      assert(guard("(a)\\1") === Some("backreference \\1"))

      // clearing the regex ("" per the field contract) empties the
      // subscription: the member is told to revoke everything with
      // its epoch HELD, and advances only after reporting the
      // revocation — the standard revoke-then-grant handshake
      val cleared = hb(7, id, 2, regex = "")
      assert(cleared._2 === 0)
      assert(cleared._5 === 2, "epoch held until the revocation is reported")
      assert(cleared._7 === Some(Seq.empty))
      val empty = hb(8, id, 2, owned = Seq.empty)
      assert(empty._2 === 0)
      assert(empty._5 === 3)
    } finally { sock.close(); server.close() }
  }

  test("fencing: stale epochs 110, unknown members 25, bad assignor 112, bare join 42") {
    val root = Files.createTempDirectory("graft-848-fence").toString
    val broker = new Broker(spark, root)
    broker.createTopic("fz", 2)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    val resolver = topicIdResolverFor(Seq("fz"))
    def hb(corr: Int, memberId: String, epoch: Int,
        subs: Seq[String] = null, assignor: String = null) =
      decodeConsumerGroupHeartbeatResponse(exchange(sock,
        encodeConsumerGroupHeartbeatRequest(corr, "cli", "fence", memberId,
          epoch, subs, null, assignor)), resolver)
    try {
      val joined = hb(1, "m1", 0, subs = Seq("fz"))
      assert(joined._2 === 0 && joined._5 === 1)
      // a heartbeat at any epoch other than the member's current one
      assert(hb(2, "m1", 7)._2 === 110)
      assert(hb(3, "never-joined", 1)._2 === 25)
      assert(hb(4, "m2", 0, subs = Seq("fz"), assignor = "sticky")._2 === 112)
      assert(hb(5, "m3", 0)._2 === 42, "a join must carry subscriptions")
      // leave of an unknown member is 25 too
      assert(hb(6, "never-joined", -1)._2 === 25)
      // the fenced answers left the real member untouched
      assert(hb(7, "m1", 1)._2 === 0)
      // ListGroups enumerates the 848 group beside classic ones
      val (_, _, listed) = decodeListGroupsResponse(0, exchange(sock,
        encodeListGroupsRequest(0, 8, "cli")))
      assert(listed.map(g => (g._1, g._2)).contains(("fence", "consumer")))
    } finally { sock.close(); server.close() }
  }

  test("OffsetFetch v9 fences on member id + epoch before any offsets flow") {
    val root = Files.createTempDirectory("graft-848-ofetch").toString
    val broker = new Broker(spark, root)
    broker.createTopic("of9", 1)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    val resolver = topicIdResolverFor(Seq("of9"))
    def fetch(corr: Int, memberId: String, epoch: Int): (Int, Long) = {
      val (_, gs) = decodeOffsetFetchResponse(9, exchange(sock,
        encodeOffsetFetchRequest(9, corr, "cli",
          Seq(("of9-grp", Some(Seq(("of9", Seq(0)))))),
          members = Seq((memberId, epoch)))))
      val (_, gerr, topics) = gs.head
      (gerr, topics.headOption.flatMap(_._2.headOption).map(_._2).getOrElse(-2L))
    }
    try {
      // join → current epoch 1
      val joined = decodeConsumerGroupHeartbeatResponse(exchange(sock,
        encodeConsumerGroupHeartbeatRequest(1, "cli", "of9-grp", "m1", 0,
          Seq("of9"), null, null)), resolver)
      assert(joined._2 === 0 && joined._5 === 1)
      // commit through the classic path (member-less admin commit)
      val (_, committed) = decodeOffsetCommitResponse(8, exchange(sock,
        encodeOffsetCommitRequest(8, 2, "cli", "of9-grp", -1, "", null,
          Seq(("of9", Seq((0, 42L, "")))))))
      assert(committed === Seq(("of9", Seq((0, 0)))))
      // current member+epoch reads the committed offset, no error
      assert(fetch(3, "m1", 1) === ((0, 42L)))
      // stale epoch → STALE_MEMBER_EPOCH 113, offsets withheld
      assert(fetch(4, "m1", 7) === ((113, -2L)))
      // never-granted member → UNKNOWN_MEMBER_ID 25
      assert(fetch(5, "ghost", 1) === ((25, -2L)))
      // the member-less (admin) shape skips validation entirely
      assert(fetch(6, null, -1) === ((0, 42L)))
    } finally { sock.close(); server.close() }
  }
}
