package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Wire-format conformance corpus for the in-process JetStream stub
  * (round-9 verdict ask #6): the stub exists because no NATS jar is
  * available offline, but its OBSERVABLE semantics — subject-token
  * matching, the `Nats-Msg-Id` duplicate window, discard-old
  * retention, the `{uri}:{cid}` msg-id scheme — are pinned here
  * against the reference's documented behaviors, so a future swap to
  * the real transport is a drop-in: any divergence between stub and
  * server shows up as a failure of THIS table, not as a silent
  * behavior change in the connector above it.
  *
  * Reference anchors: `/root/reference/src/nats_client.py:90` (output
  * subjects `{subject}.>`), `:95` (max_msgs 5,000,000), `:99`
  * (duplicate_window), `:134` (input subscription `{subject}.>`),
  * `:238-240` (route `{subject}.{sentiment}.{top_topic}`), `:249-255`
  * (msg-id `{uri}:{cid}`, duplicate ack not stored). */
class StubConformanceSpec extends AnyFunSuite {

  // ---- subject-token matching ----------------------------------------
  // NATS subject grammar: tokens split on '.', `*` matches exactly one
  // token, `>` matches one-or-more trailing tokens (a full wildcard
  // must not match the bare prefix itself).
  private val subjectCases: Seq[(String, String, Boolean)] = Seq(
    // the reference's output binding: enriched.>  (nats_client.py:90)
    ("enriched.>", "enriched.positive.tech", true),
    ("enriched.>", "enriched.negative", true),
    ("enriched.>", "enriched", false), // `>` needs >= 1 trailing token
    ("enriched.>", "other.positive.tech", false),
    // the reference's input binding: posts.>  (nats_client.py:134)
    ("posts.>", "posts.create", true),
    ("posts.>", "posts.create.en.2024", true),
    ("posts.>", "posts", false),
    // literal patterns match exactly
    ("posts.create", "posts.create", true),
    ("posts.create", "posts.create.extra", false),
    ("posts.create", "posts", false),
    // `*` is exactly-one-token
    ("enriched.*.tech", "enriched.positive.tech", true),
    ("enriched.*.tech", "enriched.tech", false),
    ("enriched.*.tech", "enriched.a.b.tech", false),
    ("enriched.*", "enriched.positive", true),
    ("enriched.*", "enriched.positive.tech", false),
    ("enriched.*", "enriched", false),
    // `>` deeper in the pattern
    ("a.*.>", "a.b.c", true),
    ("a.*.>", "a.b", false),
    // routed subjects from the enrichment sink (nats_client.py:240):
    // {output}.{sentiment}.{top_topic} must bind to {output}.>
    ("enriched.>", "enriched.neutral.unknown", true))

  test("subject matching: `>` and `*` wildcard table") {
    for ((pat, subj, want) <- subjectCases)
      assert(StubJetStream.subjectMatches(pat, subj) == want,
        s"pattern '$pat' vs subject '$subj': expected $want")
  }

  // ---- duplicate window ----------------------------------------------

  private def freshStream(name: String): StubStream = {
    StubJetStream.drop(name)
    // the reference's output DDL: subjects {out}.>, max 5M msgs, 600 s
    // duplicate window (nats_client.py:88-99)
    StubJetStream.ensure(name, Seq("enriched.>"))
  }

  test("DDL defaults match the reference stream config") {
    val s = freshStream("graft_conf_ddl")
    assert(s.maxMsgs == 5000000L)
    assert(s.duplicateWindowMs == 600000L)
    StubJetStream.drop(s.name)
  }

  test("msg-id dedup: same {uri}:{cid} inside the window acks duplicate=true, original seq, not stored") {
    val s = freshStream("graft_conf_dup")
    var now = 1000L
    s.clock = () => now
    val msgId = "at://did:plc:abc/app.bsky.feed.post/3k2:bafyreia" // {uri}:{cid}
    val a1 = s.publish("enriched.positive.tech", "{\"v\":1}", msgId)
    assert(!a1.duplicate && a1.seq == 1L && a1.stream == s.name)
    // same msg-id, different payload/subject: still a duplicate — the
    // window keys on msg-id alone (nats_client.py:255-260)
    now += 599999L // 1 ms inside the 600 s window
    val a2 = s.publish("enriched.negative.politics", "{\"v\":2}", msgId)
    assert(a2.duplicate, "inside-window republish must ack duplicate")
    assert(a2.seq == a1.seq, "duplicate ack carries the ORIGINAL seq")
    assert(s.allMessages.size == 1, "duplicate must not be stored")
    assert(s.duplicateTotal.sum == 1L)
    // window expiry: the same msg-id publishes as a NEW message
    now += 2L // past the window
    val a3 = s.publish("enriched.positive.tech", "{\"v\":3}", msgId)
    assert(!a3.duplicate && a3.seq == 2L,
      "past-window republish is a fresh message")
    assert(s.allMessages.size == 2)
    StubJetStream.drop(s.name)
  }

  test("null msg-id disables dedup (headers omitted when uri/cid missing)") {
    // nats_client.py:249-252: headers only set when BOTH uri and cid
    // exist; otherwise every publish stores
    val s = freshStream("graft_conf_nullid")
    val a1 = s.publish("enriched.neutral.unknown", "{}", null)
    val a2 = s.publish("enriched.neutral.unknown", "{}", null)
    assert(!a1.duplicate && !a2.duplicate && a2.seq == a1.seq + 1)
    assert(s.allMessages.size == 2)
    StubJetStream.drop(s.name)
  }

  test("distinct msg-ids never collide inside the window") {
    val s = freshStream("graft_conf_ids")
    val acks = (1 to 5).map(i =>
      s.publish("enriched.positive.tech", s"{}", s"uri$i:cid$i"))
    assert(acks.forall(!_.duplicate))
    assert(acks.map(_.seq) == (1L to 5L))
    StubJetStream.drop(s.name)
  }

  test("limits retention: discard-old at max_msgs keeps the newest") {
    val s = {
      StubJetStream.drop("graft_conf_limits")
      StubJetStream.ensure("graft_conf_limits", Seq("enriched.>"),
        maxMsgs = 3L)
    }
    (1 to 5).foreach(i =>
      s.publish("enriched.positive.tech", s"{\"i\":$i}", s"u$i:c$i"))
    // discard=OLD (nats_client.py:92): oldest evicted, seqs keep rising
    assert(s.allMessages.map(_.seq) == Seq(3L, 4L, 5L))
    assert(s.lastSeq == 5L)
    StubJetStream.drop(s.name)
  }

  test("publish to an unbound subject is rejected") {
    val s = freshStream("graft_conf_bind")
    intercept[IllegalArgumentException] {
      s.publish("posts.create", "{}", "u:c")
    }
    StubJetStream.drop(s.name)
  }

  test("per-message state stays bounded: fetch after discard-old, window eviction, ack pruning") {
    StubJetStream.drop("graft_conf_bounds")
    val s = StubJetStream.ensure("graft_conf_bounds", Seq("enriched.>"),
      maxMsgs = 4L, duplicateWindowMs = 1000L)
    var now = 0L
    s.clock = () => now
    (1 to 10).foreach { i =>
      s.publish(if (i % 2 == 0) "enriched.even" else "enriched.odd",
        s"{\"i\":$i}", s"id$i")
      now += 100L
    }
    // discard-old kept seqs 7-10; fetch serves exactly that range
    assert(s.fetch(0L, 100L, ">").map(_.seq) == Seq(7L, 8L, 9L, 10L))
    assert(s.fetch(7L, 9L, ">").map(_.seq) == Seq(8L, 9L))
    assert(s.fetch(2L, 8L, "enriched.even").map(_.seq) == Seq(8L))
    assert(s.fetch(10L, 20L, ">").isEmpty && s.fetch(0L, 6L, ">").isEmpty)
    // now = 1000: id1 (t=0) is past the window, id2..id10 are inside it
    val inside = s.publish("enriched.odd", "{}", "id3")
    assert(inside.duplicate && inside.seq == 3L)
    val past = s.publish("enriched.odd", "{}", "id1")
    assert(!past.duplicate && past.seq == 11L)
    assert(s.fetch(10L, 11L, ">").map(_.data) == Seq("{}"))
    // expired ids leave the index: only the last window's ids remain
    now += 5000L
    s.publish("enriched.odd", "{}", "fresh")
    assert(s.trackedMsgIds == 1)
    // delivery counts are kept above the acked floor only
    val c = s.consumer("bounds")
    (7L to 11L).foreach(c.recordDelivery)
    assert(c.recordDelivery(9L) == 2)
    c.ack(9L)
    assert(c.trackedDeliveries == 2)
    assert(c.recordDelivery(8L) == 2) // at the floor: a redelivery
    assert(c.recordDelivery(10L) == 2 && c.recordDelivery(12L) == 1)
    StubJetStream.drop(s.name)
  }
}
