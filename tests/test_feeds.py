"""RSS/Atom feed parsing (operators/feeds) — the two link
conventions, channel-vs-item titles, URL absolutization."""

import pytest

from bigdata_invoice_stream_analysis_spark.operators.feeds import (
    parse_feed,
)

RSS = """<?xml version="1.0"?>
<rss version="2.0"><channel>
<title>Example Blog</title>
<link>https://blog.example.com/</link>
<item><title>First &amp; finest</title>
<link>/posts/1</link>
<pubDate>Mon, 10 Aug 2026 09:00:00 GMT</pubDate>
<guid>post-1</guid></item>
<item><title>Second</title>
<link>https://blog.example.com/posts/2</link></item>
</channel></rss>
"""

ATOM = """<?xml version="1.0"?>
<feed xmlns="http://www.w3.org/2005/Atom">
<title>Example Feed</title>
<link rel="self" href="https://site.example.com/feed.xml"/>
<link rel="alternate" href="https://site.example.com/"/>
<entry><title>Entry one</title>
<link href="entries/1"/>
<published>2026-08-10T09:00:00Z</published>
<id>urn:e1</id></entry>
<entry><title>Entry two</title>
<link rel="enclosure" href="https://cdn.example.com/a.mp3"/>
<link rel="alternate" href="https://site.example.com/e/2"/>
<updated>2026-08-11T09:00:00Z</updated></entry>
</feed>
"""


def test_rss_channel_and_items():
    m = parse_feed(RSS)
    assert m["kind"] == "rss"
    assert m["title"] == "Example Blog"
    assert m["feed_link"] == "https://blog.example.com/"
    assert m["n_entries"] == 2
    assert m["entries"][0]["title"] == "First & finest"
    assert m["entries"][0]["guid"] == "post-1"
    assert m["entries"][0]["published"].startswith("Mon, 10 Aug")


def test_rss_relative_link_absolutized():
    m = parse_feed(RSS, base_url="https://blog.example.com/feed")
    assert m["entries"][0]["link"] == "https://blog.example.com/posts/1"
    assert m["entries"][1]["link"] == "https://blog.example.com/posts/2"


def test_atom_links_are_attributes():
    m = parse_feed(ATOM, base_url="https://site.example.com/feed.xml")
    assert m["kind"] == "atom"
    assert m["title"] == "Example Feed"
    # rel=alternate wins over rel=self at feed level
    assert m["feed_link"] == "https://site.example.com/"
    e1, e2 = m["entries"]
    assert e1["link"] == "https://site.example.com/entries/1"
    assert e1["published"] == "2026-08-10T09:00:00Z"
    assert e1["guid"] == "urn:e1"
    # rel=alternate preferred over the enclosure
    assert e2["link"] == "https://site.example.com/e/2"
    assert e2["published"] == "2026-08-11T09:00:00Z"


def test_channel_title_not_item_title():
    # the channel title must come from BEFORE the first item, not
    # leak from an item's own <title>
    rss = ("<rss><channel><item><title>only item title</title>"
           "</item></channel></rss>")
    m = parse_feed(rss)
    assert m["title"] is None
    assert m["entries"][0]["title"] == "only item title"


def test_not_a_feed_raises():
    with pytest.raises(ValueError, match="neither"):
        parse_feed("<html><body>page</body></html>")
