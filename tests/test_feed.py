"""Feed extraction goldens, pinned to the reference snapshot values
(/root/reference/src/__snapshots__/FeedHandler.spec.ts.snap:3-103)."""

from __future__ import annotations

from datetime import datetime, timezone

from htmlparser2_spark.engine.feed import parse_feed

from .fixture_docs import DOCS, requires_docs


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc)


@requires_docs
def test_rss_feed():
    feed = parse_feed((DOCS / "RSS_Example.xml").read_text())
    assert feed["type"] == "rss"
    assert feed["id"] == ""
    assert feed["title"] == "Liftoff News"
    assert feed["link"] == "http://liftoff.msfc.nasa.gov/"
    assert feed["description"] == "Liftoff to Space Exploration."
    assert feed["updated"] == ts("2003-06-10T09:41:01")
    assert feed["author"] == "editor@example.com"
    assert len(feed["items"]) == 4
    first = feed["items"][0]
    assert first["title"] == "Star City"
    assert first["link"] == "http://liftoff.msfc.nasa.gov/news/2003/news-starcity.asp"
    assert first["id"] == "http://liftoff.msfc.nasa.gov/2003/06/03.html#item573"
    assert first["pubDate"] == ts("2003-06-03T09:39:21")
    assert first["description"].startswith("How do Americans get ready")
    # Item 2 has no title/link (absent fields omitted).
    second = feed["items"][1]
    assert "title" not in second and "link" not in second
    # Item 4 carries a media:content element.
    media = feed["items"][3]["media"]
    assert len(media) == 1
    assert media[0]["medium"] == "image"
    assert media[0]["isDefault"] is False
    assert media[0]["url"] == "https://picsum.photos/200"
    assert media[0]["height"] == 200 and media[0]["width"] == 200


@requires_docs
def test_atom_feed():
    feed = parse_feed((DOCS / "Atom_Example.xml").read_text())
    assert feed["type"] == "atom"
    assert feed["id"] == "urn:uuid:60a76c80-d399-11d9-b91C-0003939e0af6"
    assert feed["title"] == "Example Feed"
    assert feed["link"] == "http://example.org/feed/"
    assert feed["description"] == "A subtitle."
    assert feed["updated"] == ts("2003-12-13T18:30:02")
    assert feed["author"] == "johndoe@example.com"
    assert len(feed["items"]) == 2
    first = feed["items"][0]
    assert first["id"] == "urn:uuid:1225c695-cfb8-4ebb-aaaa-80da344efa6a"
    assert first["title"] == "Atom-Powered Robots Run Amok"
    assert first["link"] == "http://example.org/2003/12/13/atom03"
    assert first["description"] == "Some content."
    assert first["pubDate"] == ts("2003-12-13T18:30:02")
    # The empty <entry/> yields an item with only media.
    assert feed["items"][1] == {"media": []}


@requires_docs
def test_rdf_feed():
    feed = parse_feed((DOCS / "RDF_Example.xml").read_text())
    assert feed["type"] == "rdf"
    assert feed["id"] == ""
    assert feed["title"] == "A title to parse and remember"
    assert feed["link"] == "https://github.com/fb55/htmlparser2/"
    assert "description" not in feed  # <description/> is empty -> omitted
    assert "author" not in feed
    assert len(feed["items"]) == 2
    first = feed["items"][0]
    assert first["title"] == "Fast HTML Parsing"
    assert first["link"] == "http://somefakesite/path/to/something.html"
    assert (
        first["description"]
        == 'Great test content<br>A link: <a href="http://github.com">Github</a>'
    )
    assert first["pubDate"] == ts("2011-11-04T16:35:17")
    second = feed["items"][1]
    assert second["title"] == "This space intentionally left blank"
    assert second["description"] == "The early bird gets the worm"


def test_not_a_feed():
    assert parse_feed("<html><body>nope</body></html>") is None
