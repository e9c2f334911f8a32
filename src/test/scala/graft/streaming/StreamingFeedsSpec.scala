package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.Feeds

class StreamingFeedsSpec extends SparkTestBase {
  import spark.implicits._

  private def feedXml(feedUrl: String, rss: Boolean, ids: Seq[Int]): String = {
    val items = ids.map(i =>
      Feeds.FeedItem(s"$feedUrl/post-$i", s"title $i", s"2026-01-${10 + i}"))
    if (rss) Feeds.serializeRss(feedUrl, items) else Feeds.serializeAtom(feedUrl, items)
  }

  test("feed poll stream: re-served entries emit exactly once; stream ≡ one-shot; restart-safe") {
    val root = java.nio.file.Files.createTempDirectory("graft-feeds").toString
    val fA = "https://a.example.com/feed.xml"
    val fB = "https://b.example.com/feed.xml"

    // poll 1: A serves posts 1-3, B serves 1-2
    Seq((fA, feedXml(fA, rss = true, Seq(1, 2, 3))),
        (fB, feedXml(fB, rss = false, Seq(1, 2))))
      .toDF("feed_url", "xml").write.parquet(s"$root/feeds/poll=1")
    val q1 = StreamingFeeds.start(spark, root)
    q1.processAllAvailable()

    // poll 2 while running: A re-serves 2-3 and adds 4; B re-serves all
    Seq((fA, feedXml(fA, rss = true, Seq(2, 3, 4))),
        (fB, feedXml(fB, rss = false, Seq(1, 2))))
      .toDF("feed_url", "xml").write.parquet(s"$root/feeds/poll=2")
    q1.processAllAvailable()
    q1.stop()
    assert(BatchFold.loads(root) == 1) // carried state, not re-read per batch

    val after2 = StreamingFeeds.readDiscoveries(spark, root)
    val urls2 = after2.select("entry_url").as[String].collect().sorted.toSeq
    assert(urls2 == Seq(s"$fA/post-1", s"$fA/post-2", s"$fA/post-3",
      s"$fA/post-4", s"$fB/post-1", s"$fB/post-2"))
    // exactly once: no url appears in two batches
    assert(after2.groupBy("entry_url").count().filter($"count" > 1).count() == 0)

    // restart (new query, same root): A re-serves everything and adds 5
    Seq((fA, feedXml(fA, rss = true, Seq(1, 2, 3, 4, 5))))
      .toDF("feed_url", "xml").write.parquet(s"$root/feeds/poll=3")
    val q2 = StreamingFeeds.start(spark, root)
    q2.processAllAvailable()
    q2.stop()
    assert(BatchFold.loads(root) == 2)

    val finalD = StreamingFeeds.readDiscoveries(spark, root)
    // one-shot equivalent: first-seen representative per distinct entry url
    val oneShot = Feeds.entries(
        spark.read.parquet(s"$root/feeds/poll=1", s"$root/feeds/poll=2",
          s"$root/feeds/poll=3").toDF())
      .select("entry_url").distinct()
      .as[String].collect().sorted.toSeq
    assert(finalD.select("entry_url").as[String].collect().sorted.toSeq == oneShot)
    assert(finalD.groupBy("entry_url").count().filter($"count" > 1).count() == 0)
    // parsed fields survived: every discovery carries its title + published
    assert(finalD.filter(length($"title") === 0 || length($"published") === 0)
      .count() == 0)

    // replay: poll 3 re-runs against the seen set before it, rewriting the
    // same discoveries
    val rowsBefore = finalD.orderBy("entry_url").collect().toSeq
    StreamReplay.dropNewestCommit(root)
    val q3 = StreamingFeeds.start(spark, root)
    q3.processAllAvailable()
    q3.stop()
    assert(BatchFold.loads(root) == 3)
    assert(StreamingFeeds.readDiscoveries(spark, root).orderBy("entry_url")
      .collect().toSeq == rowsBefore)
  }
}
