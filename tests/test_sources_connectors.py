"""Python Data Source connectors (S5/S6): fixture-mode parity with the
plain JSON-lines reader, partition fan-out, and the streaming poll."""

from __future__ import annotations

import json

import pytest

from big_data_project_spark import io, refdata
from big_data_project_spark.pipelines import social
from big_data_project_spark.sources import register_connectors

# the reference's feed files where its checkout exists, else the committed
# reference-shaped fixture (FIXTURES.md §B2/§B3: 20 + 19 articles, 500 posts)
CNBC_1 = f"{refdata.root()}/{refdata.CNBC_1}"
CNBC_2 = f"{refdata.root()}/{refdata.CNBC_2}"
REDDIT = f"{refdata.root()}/{refdata.REDDIT}"


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cnbc_connector_matches_json_reader(spark):
    register_connectors(spark)
    via_source = spark.read.format("cnbc_articles").option(
        "path", f"{CNBC_1},{CNBC_2}"
    ).load()
    via_json = io.read_json(spark, CNBC_1, schema=social.CNBC_SCHEMA).unionByName(
        io.read_json(spark, CNBC_2, schema=social.CNBC_SCHEMA)
    )
    assert via_source.schema == via_json.schema
    assert _sorted_rows(via_source) == _sorted_rows(via_json)


def test_cnbc_connector_one_partition_per_file(spark):
    register_connectors(spark)
    df = spark.read.format("cnbc_articles").option(
        "path", f"{CNBC_1},{CNBC_2}"
    ).load()
    assert df.rdd.getNumPartitions() == 2


def test_reddit_connector_matches_json_reader(spark):
    register_connectors(spark)
    via_source = spark.read.format("reddit_posts").option("path", REDDIT).load()
    via_json = io.read_json(spark, REDDIT, schema=social.REDDIT_SCHEMA)
    assert via_source.schema == via_json.schema
    assert _sorted_rows(via_source) == _sorted_rows(via_json)
    assert via_source.count() == 500


def test_connector_feeds_unify_equals_file_pipeline(spark):
    """The end-to-end claim: connector-sourced feeds run through
    pipelines.social.unify and land IDENTICAL to the file-based pipeline
    (same doc_ids, same text) — a user can swap the ingestion path without
    touching anything downstream."""
    register_connectors(spark)
    cn = social.normalize_cnbc(
        spark.read.format("cnbc_articles").option("path", f"{CNBC_1},{CNBC_2}").load()
    )
    rd = social.normalize_reddit(
        spark.read.format("reddit_posts").option("path", REDDIT).load()
    )
    got = social.unify(cn, rd)
    want = social.unify(
        social.load_cnbc(spark, CNBC_1, CNBC_2), social.load_reddit(spark, REDDIT)
    )
    assert _sorted_rows(got) == _sorted_rows(want)


def test_reddit_stream_reader_polls_to_completion(spark, tmp_path):
    """Fixture-mode micro-batch poll: batch_size lines per trigger, offset
    advances by rows emitted, the exhausted source returns empty batches —
    processAllAvailable() terminates with every post delivered once."""
    register_connectors(spark)
    out = (
        spark.readStream.format("reddit_posts")
        .option("path", REDDIT)
        .option("batch_size", "150")
        .load()
        .writeStream.format("memory")
        .queryName("reddit_stream_tbl")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        out.processAllAvailable()
    finally:
        out.stop()
    got = spark.table("reddit_stream_tbl")
    want = io.read_json(spark, REDDIT, schema=social.REDDIT_SCHEMA)
    assert got.count() == 500
    assert _sorted_rows(got.select(*want.columns)) == _sorted_rows(want)


def test_reddit_stream_offset_resume(spark, tmp_path):
    """read(start) is a pure function of the offset: re-reading from a
    mid-stream offset re-emits the identical rows (replayability — the
    property that gives exactly-once into idempotent sinks)."""
    from big_data_project_spark.sources.connectors import _RedditStreamReader

    fixture = tmp_path / "mini.json"
    with open(fixture, "w") as fh:
        for i in range(7):
            fh.write(
                json.dumps(
                    {
                        "Title": f"t{i}",
                        "URL": f"u{i}",
                        "Upvotes": i,
                        "Comments_Count": 0,
                        "Post_Time": "2025-04-21 07:29:17",
                    }
                )
                + "\n"
            )
    r = _RedditStreamReader({"path": str(fixture), "batch_size": "3"})
    rows1, off1 = r.read(r.initialOffset())
    rows1 = list(rows1)
    assert len(rows1) == 3 and off1 == {"line": 3, "name": ""}
    rows1_replay = list(r.read(r.initialOffset())[0])
    assert rows1_replay == rows1
    rows2, off2 = r.read(off1)
    rows3, off3 = r.read(off2)
    assert len(list(rows2)) == 3 and len(list(rows3)) == 1
    assert off3 == {"line": 7, "name": ""}
    empty, off4 = r.read(off3)
    assert list(empty) == [] and off4 == off3


def test_connector_requires_a_mode(spark):
    register_connectors(spark)
    with pytest.raises(Exception, match="path=.*or"):
        spark.read.format("cnbc_articles").load().collect()


def test_stream_read_between_offsets_is_pure_slice(tmp_path):
    """Checkpoint-restart recovery: readBetweenOffsets(start, end) must
    re-emit exactly the rows read(start) planned for that window."""
    from big_data_project_spark.sources.connectors import _RedditStreamReader

    fixture = tmp_path / "mini.json"
    with open(fixture, "w") as fh:
        for i in range(9):
            fh.write(
                json.dumps(
                    {
                        "Title": f"t{i}",
                        "URL": f"u{i}",
                        "Upvotes": i,
                        "Comments_Count": 0,
                        "Post_Time": "2025-04-21 07:29:17",
                    }
                )
                + "\n"
            )
    r = _RedditStreamReader({"path": str(fixture), "batch_size": "4"})
    rows1, off1 = r.read(r.initialOffset())
    rows2, off2 = r.read(off1)
    assert list(r.readBetweenOffsets(r.initialOffset(), off1)) == list(rows1)
    assert list(r.readBetweenOffsets(off1, off2)) == list(rows2)


def test_loose_fixture_ints_become_null_not_crash(spark, tmp_path):
    """read_json parity: '12.5' and junk in int fields must degrade to
    NULL/truncated ints, never kill the task (finding: int('12.5') raised)."""
    from big_data_project_spark.sources.connectors import _int_or_none

    assert _int_or_none("12") == 12
    assert _int_or_none("12.5") == 12
    assert _int_or_none(12.9) == 12
    assert _int_or_none("junk") is None
    assert _int_or_none(None) is None

    fixture = tmp_path / "loose.json"
    with open(fixture, "w") as fh:
        fh.write(
            json.dumps(
                {
                    "Title": "t",
                    "URL": "u",
                    "Upvotes": "12.5",
                    "Comments_Count": "junk",
                    "Post_Time": "2025-04-21 07:29:17",
                }
            )
            + "\n"
        )
    register_connectors(spark)
    rows = (
        spark.read.format("reddit_posts").option("path", str(fixture)).load().collect()
    )
    assert rows[0].Upvotes == 12 and rows[0].Comments_Count is None


def test_fullname_ordering_survives_base36_rollover():
    """reddit ids grow in length; '(len, text)' keying must rank the
    longer (newer-era) id above any shorter one, where plain string
    comparison would not."""
    from big_data_project_spark.sources.connectors import _fullname_key

    old_era, new_era = "t3_1zzzzzz", "t3_10000000"
    assert new_era < old_era  # the string-comparison trap
    assert _fullname_key(new_era) > _fullname_key(old_era)
    assert _fullname_key(None) < _fullname_key("t3_a")


def test_live_poll_walks_back_to_anchor(monkeypatch):
    """A burst larger than one listing page must be collected by paging
    back to the previous anchor, not skipped by jumping the offset to the
    newest fullname. Simulated feed: 250 posts newer than the anchor,
    served in 100-post pages."""
    from big_data_project_spark.sources import connectors as c

    # fullnames f0001 (oldest) .. f0260 (newest); anchor at f0010
    names = [f"t3_f{i:04d}" for i in range(1, 261)]
    feed = [
        {"name": n, "title": n, "url": f"https://x/{n}", "score": i,
         "num_comments": 0, "created_utc": 1745000000 + i}
        for i, n in enumerate(names)
    ]
    feed_newest_first = list(reversed(feed))

    def fake_page(sub, base_url, count, after):
        start = 0
        if after:
            idx = [d["name"] for d in feed_newest_first].index(after)
            start = idx + 1
        page = feed_newest_first[start : start + min(count, 100)]
        nxt = page[-1]["name"] if start + len(page) < len(feed_newest_first) else None
        return page, nxt

    monkeypatch.setattr(c, "_reddit_listing_page", fake_page)
    rows, newest = c._reddit_new_since("whatever", "t3_f0010")
    assert newest == "t3_f0260"
    assert len(rows) == 250  # every post newer than the anchor, 3 pages
    # and the replay window (anchor, upper] honors the upper bound
    replay, _ = c._reddit_new_since("whatever", "t3_f0010", upper="t3_f0100")
    assert len(replay) == 90
    assert all(r[0] <= "t3_f0100" for r in replay)


def test_live_listing_pages_to_limit(monkeypatch):
    """Batch mode must page past the 100-post listing cap up to `limit`
    (PRAW .new(limit=500) parity), not silently return one page."""
    from big_data_project_spark.sources import connectors as c

    feed = [
        {"name": f"t3_g{i:04d}", "title": f"g{i}", "url": "u", "score": i,
         "num_comments": 0, "created_utc": 1745000000 + i}
        for i in range(400, 0, -1)
    ]

    def fake_page(sub, base_url, count, after):
        start = 0
        if after:
            start = [d["name"] for d in feed].index(after) + 1
        page = feed[start : start + min(count, 100)]
        nxt = page[-1]["name"] if start + len(page) < len(feed) else None
        return page, nxt

    monkeypatch.setattr(c, "_reddit_listing_page", fake_page)
    assert len(c._reddit_listing_rows("whatever", 350)) == 350
    assert len(c._reddit_listing_rows("whatever", 500)) == 400  # feed exhausted


def test_listing_dedups_fullnames_across_page_shift(monkeypatch):
    """ADVICE r3: a post arriving mid-walk shifts the listing so a page
    boundary re-serves an already-emitted fullname — both the batch walk
    and the since-anchor poll must emit each fullname at most once."""
    from big_data_project_spark.sources import connectors as c

    def mk(i):
        return {"name": f"t3_k{i:04d}", "title": f"k{i}", "url": "u",
                "score": i, "num_comments": 0, "created_utc": 1745000000 + i}

    # page 1: k0200..k0101; page 2 REPEATS k0105..k0101 (shifted feed)
    # then continues k0100..k0001
    pages = {
        None: ([mk(i) for i in range(200, 100, -1)], "cursor1"),
        "cursor1": ([mk(i) for i in range(105, 0, -1)], None),
    }

    def fake_page(sub, base_url, count, after):
        return pages[after]

    monkeypatch.setattr(c, "_reddit_listing_page", fake_page)
    rows = c._reddit_listing_rows("whatever", 500)
    titles = [r[0] for r in rows]
    assert len(titles) == len(set(titles)) == 200

    rows2, newest = c._reddit_new_since("whatever", None)
    titles2 = [r[0] for r in rows2]
    assert len(titles2) == len(set(titles2)) == 200
    assert newest == "t3_k0200"


def test_publish_date_extraction_variants():
    """_extract_publish_date: standard meta forms, attribute-order swap,
    JSON-LD fallback, and honest None when no date is present."""
    from big_data_project_spark.sources.connectors import _extract_publish_date

    assert _extract_publish_date(
        '<meta property="article:published_time" content="2026-01-02T03:04:05Z">'
    ) == "2026-01-02T03:04:05Z"
    assert _extract_publish_date(
        "<META NAME='datePublished' CONTENT='2025-12-31'>"
    ) == "2025-12-31"
    assert _extract_publish_date(
        '<meta content="2026-03-04T00:00:00Z" property="article:published_time">'
    ) == "2026-03-04T00:00:00Z"
    assert _extract_publish_date(
        '<script type="application/ld+json">{"datePublished": "2026-05-06"}</script>'
    ) == "2026-05-06"
    assert _extract_publish_date("<html><body>no date here</body></html>") is None


# ---------------------------------------------------------------------------
# live-mode paths over a LOOPBACK http server: the urllib fetch, index
# scrape + executor fan-out, listing pagination, and the since-anchor poll
# run against real HTTP — no external network involved.
# ---------------------------------------------------------------------------

@pytest.fixture()
def local_feed():
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    posts = [  # newest first, like the real listing
        {
            "name": f"t3_h{i:04d}",
            "title": f"post {i}",
            "url": f"https://x/p{i}",
            "score": i,
            "num_comments": i % 7,
            "created_utc": 1745000000 + i,
        }
        for i in range(250, 0, -1)
    ]

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, body: bytes, ctype="text/html"):
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            u = urlparse(self.path)
            if u.path == "/index.html":
                links = "".join(
                    f'<a href="{base_url()}/articles/a{i}.html">a{i}</a>'
                    for i in range(1, 6)
                ) + f'<a href="{base_url()}/other/skip.html">skip</a>'
                self._send(links.encode())
            elif u.path.startswith("/articles/"):
                n = u.path.split("/a")[-1].split(".")[0]
                self._send(
                    f"<html><title>Article {n}</title>"
                    f'<meta property="article:published_time" '
                    f'content="2026-02-0{n}T09:00:00Z">'
                    f"<body>body of {n} words</body></html>".encode()
                )
            elif u.path == "/r/test/new.json":
                q = parse_qs(u.query)
                limit = min(int(q.get("limit", ["100"])[0]), 100)
                after = q.get("after", [None])[0]
                start = 0
                if after:
                    start = [p["name"] for p in posts].index(after) + 1
                page = posts[start : start + limit]
                nxt = (
                    page[-1]["name"]
                    if page and start + len(page) < len(posts)
                    else None
                )
                body = json.dumps(
                    {
                        "data": {
                            "children": [{"data": p} for p in page],
                            "after": nxt,
                        }
                    }
                ).encode()
                self._send(body, "application/json")
            else:
                self.send_response(404)
                self.end_headers()

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)

    def base_url():
        return f"http://127.0.0.1:{srv.server_port}"

    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield base_url()
    finally:
        srv.shutdown()


def test_cnbc_live_mode_scrapes_and_fans_out(spark, local_feed):
    """index scraped once at planning, article fetches spread over fanout
    partitions, prefix filter honored, titles extracted — over real HTTP."""
    register_connectors(spark)
    df = (
        spark.read.format("cnbc_articles")
        .option("index_url", f"{local_feed}/index.html")
        .option("prefix", f"{local_feed}/articles/")
        .option("fanout", "3")
        .load()
    )
    rows = sorted((r.url, r.title, r.date) for r in df.collect())
    assert len(rows) == 5  # /other/skip.html excluded by prefix
    assert rows[0][1] == "Article 1"
    # ADVICE r3: live mode must extract the publish date, not emit NULL
    assert rows[0][2] == "2026-02-01T09:00:00Z"
    assert df.rdd.getNumPartitions() == 3


def test_reddit_live_mode_pages_past_100(spark, local_feed):
    register_connectors(spark)
    df = (
        spark.read.format("reddit_posts")
        .option("subreddit", "test")
        .option("base_url", local_feed)
        .option("limit", "230")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 230  # 3 pages: 100+100+30
    # newest-first listing → first row is the newest post
    assert rows[0].Title == "post 250"
    assert rows[0].Upvotes == 250 and rows[0].Post_Time.startswith("2025-")


# ---------------------------------------------------------------------------
# live-mode article BODY extraction (VERDICT r4 item 8): the stdlib
# readability heuristic must recover the fixture body from a realistic
# boilerplate-heavy page — ≥90% token overlap, chrome excluded.
# ---------------------------------------------------------------------------

_ARTICLE_BODY_PARAS = [
    "Shares of the company climbed more than four percent on Tuesday after "
    "the quarterly report showed revenue growth well ahead of analyst "
    "expectations for the third consecutive quarter.",
    "Executives said on the earnings call that demand for the new product "
    "line remained strong across every region, with particular strength in "
    "enterprise subscriptions and recurring service contracts.",
    "Analysts at several brokerages raised their price targets following "
    "the report, citing improving margins and a healthy pipeline heading "
    "into the final quarter of the fiscal year.",
]


def _boilerplate_article_html(base: str) -> str:
    nav = "".join(f'<a href="{base}/s{i}">Section {i}</a>' for i in range(8))
    related = "".join(
        f'<li><a href="{base}/r{i}">Related story number {i} you may like</a></li>'
        for i in range(6)
    )
    paras = "".join(f"<p>{p}</p>" for p in _ARTICLE_BODY_PARAS)
    return (
        "<html><head><title>Quarterly Report Tops Estimates</title>"
        '<meta property="article:published_time" content="2026-03-01T08:00:00Z">'
        "<style>.x{color:red}</style>"
        "<script>var tracking = 'beacon';</script></head>"
        f"<body><nav>{nav}</nav>"
        "<header><a href='/'>SiteName</a> breaking markets news</header>"
        "<article><h1>Quarterly Report Tops Estimates</h1>"
        f"{paras}</article>"
        f"<aside><h3>Trending</h3><ul>{related}</ul></aside>"
        "<footer>Copyright Contact Privacy Terms</footer>"
        "</body></html>"
    )


@pytest.fixture()
def article_feed():
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path == "/index.html":
                body = f'<a href="{base_url()}/articles/a1.html">a1</a>'.encode()
            elif self.path.startswith("/articles/"):
                body = _boilerplate_article_html(base_url()).encode()
            else:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)

    def base_url():
        return f"http://127.0.0.1:{srv.server_port}"

    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield base_url()
    finally:
        srv.shutdown()


def test_live_body_extraction_matches_fixture_body(spark, article_feed):
    """Over real loopback HTTP: the live connector's extracted content must
    cover ≥90% of the true body tokens and carry none of the chrome."""
    register_connectors(spark)
    df = (
        spark.read.format("cnbc_articles")
        .option("index_url", f"{article_feed}/index.html")
        .option("prefix", f"{article_feed}/articles/")
        .load()
    )
    row = df.collect()[0]
    fixture_tokens = set(" ".join(_ARTICLE_BODY_PARAS).lower().split())
    got_tokens = set((row.content or "").lower().split())
    overlap = len(fixture_tokens & got_tokens) / len(fixture_tokens)
    assert overlap >= 0.9, f"body token overlap {overlap:.2f}\n{row.content}"
    for chrome in ("tracking", "copyright", "related", "section"):
        assert chrome not in got_tokens, f"boilerplate token leaked: {chrome}"
    # headline survives (heading ahead of kept prose is retained)
    assert "estimates" in got_tokens


def test_extract_main_text_heuristics():
    from big_data_project_spark.sources.connectors import extract_main_text

    # link-dense list dropped, prose kept, heading-before-prose kept
    html = (
        "<h2>The Heading</h2>"
        "<p>This paragraph carries more than five words of actual prose "
        "content for the extractor.</p>"
        "<ul><li><a href='/a'>one link</a></li><li><a href='/b'>two "
        "link</a></li></ul>"
        "<div><a href='/c'>mostly anchor text in this one div block "
        "here</a> x</div>"
    )
    out = extract_main_text(html)
    assert "actual prose content" in out
    assert "The Heading" in out
    assert "one link" not in out and "mostly anchor" not in out
    # script/style/nav/footer wholesale-dropped even with long text
    html2 = (
        "<script>var x = 'a very long tracking blob of many many words "
        "that must never surface';</script>"
        "<nav>home news markets sports politics business tech world "
        "weather opinion</nav>"
        "<p>Real sentence with plenty of words to clear the prose "
        "threshold easily.</p>"
        "<footer>long footer sentence with many words about copyright "
        "and privacy terms</footer>"
    )
    out2 = extract_main_text(html2)
    assert "Real sentence" in out2
    assert "tracking" not in out2 and "weather" not in out2
    assert "copyright" not in out2
    # nothing qualifying → "" (caller falls back to tag-strip)
    assert extract_main_text("<p>too short</p>") == ""
    assert extract_main_text("") == ""


def test_reddit_live_poll_since_anchor(local_feed):
    """_reddit_new_since walks back to the anchor across pages and returns
    exactly the newer posts — over real HTTP."""
    from big_data_project_spark.sources import connectors as c

    rows, newest = c._reddit_new_since("test", "t3_h0030", base_url=local_feed)
    assert newest == "t3_h0250"
    assert len(rows) == 220  # posts 31..250
    rows2, newest2 = c._reddit_new_since("test", "t3_h0250", base_url=local_feed)
    assert rows2 == [] and newest2 == "t3_h0250"


def test_reddit_live_stream_reader_end_to_end(local_feed):
    """The live-mode SimpleDataSourceStreamReader poll: first trigger
    drains the backlog, later triggers return only what's newer; the
    replay window (start, end] honors its upper bound."""
    from big_data_project_spark.sources.connectors import _RedditStreamReader

    r = _RedditStreamReader(
        {"subreddit": "test", "base_url": local_feed, "max_pages": "5"}
    )
    rows, off = r.read(r.initialOffset())
    assert len(list(rows)) == 250 and off["name"] == "t3_h0250"
    rows2, off2 = r.read(off)
    assert list(rows2) == [] and off2["name"] == "t3_h0250"
    replay = list(
        r.readBetweenOffsets({"line": 0, "name": "t3_h0100"},
                             {"line": 0, "name": "t3_h0200"})
    )
    assert len(replay) == 100  # posts 101..200 only


# ---------------------------------------------------------------------------
# Hypothesis models for the paging/ordering logic (pure python, no Spark)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_B36 = "0123456789abcdefghijklmnopqrstuvwxyz"


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet=_B36, min_size=1, max_size=9).map(
            lambda s: "t3_" + s.lstrip("0")
        ).filter(lambda s: len(s) > 3),
        min_size=2,
        max_size=6,
        unique=True,
    )
)
def test_fullname_key_orders_like_base36_value(ids):
    """(len, text) keying must order same-prefix fullnames exactly like
    their numeric base36 value — for arbitrary ids, including across
    length rollovers (no leading zeros, as reddit ids have none)."""
    from big_data_project_spark.sources.connectors import _fullname_key

    by_key = sorted(ids, key=_fullname_key)
    by_value = sorted(ids, key=lambda s: int(s[3:], 36))
    assert by_key == by_value


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n_posts=st.integers(min_value=0, max_value=250),
    page_size_idx=st.integers(min_value=0, max_value=2),
    anchor_idx=st.integers(min_value=0, max_value=260),
)
def test_new_since_model(n_posts, page_size_idx, anchor_idx):
    """For an arbitrary feed and anchor, _reddit_new_since must return
    exactly the posts strictly newer than the anchor (newest first) and
    advance `newest` to the head of the feed — regardless of how the feed
    paginates (page size 1, 7, or 100)."""
    import pytest as _pytest

    from big_data_project_spark.sources import connectors as c

    page_size = [1, 7, 100][page_size_idx]
    names = [f"t3_m{i:04d}" for i in range(1, n_posts + 1)]  # oldest..newest
    feed = [
        {"name": n, "title": n, "url": "u", "score": i, "num_comments": 0,
         "created_utc": 1745000000 + i}
        for i, n in enumerate(names)
    ]
    newest_first = list(reversed(feed))

    def fake_page(sub, base_url, count, after):
        start = 0
        if after:
            start = [d["name"] for d in newest_first].index(after) + 1
        page = newest_first[start : start + min(count, page_size)]
        nxt = (
            page[-1]["name"]
            if page and start + len(page) < len(newest_first)
            else None
        )
        return page, nxt

    # anchor_idx 0 → no anchor (cold start); else 1-based index clamped
    # into the feed (so anchors at/above the head are exercised too)
    anchor = (
        names[min(anchor_idx, len(names)) - 1]
        if anchor_idx > 0 and names
        else None
    )

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(c, "_reddit_listing_page", fake_page)
        rows, newest = c._reddit_new_since(
            "s", anchor, max_pages=1000
        )
    finally:
        mp.undo()

    anchor_pos = names.index(anchor) + 1 if anchor else 0
    expected = list(reversed(names[anchor_pos:]))  # newer than anchor, newest first
    assert [r[0] for r in rows] == expected
    assert newest == (names[-1] if names else anchor)


# ---------------------------------------------------------------------------
# Python Data Source WRITER (jsonl_files sink)
# ---------------------------------------------------------------------------

def test_jsonl_sink_roundtrip_and_no_staged_leftovers(spark, sf_dir, tmp_path):
    """The custom writer's output must read back value-identical, with no
    .tmp staging files visible after the successful commit."""
    import os

    from big_data_project_spark.sources import register_jsonl_sink

    register_jsonl_sink(spark)
    df = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    out = str(tmp_path / "jsonl_out")
    df.write.format("jsonl_files").option("path", out).mode("append").save()
    files = os.listdir(out)
    assert files and all(f.endswith(".jsonl") for f in files), files
    back = spark.read.schema("c_custkey long, c_name string, c_acctbal double").json(
        f"{out}/part-*.jsonl"
    )
    assert _sorted_rows(back) == _sorted_rows(df)


def test_jsonl_sink_commit_and_abort_semantics(tmp_path):
    """Driver-side two-phase commit: commit renames staged->final
    atomically; abort removes staged files and tolerates already-missing
    ones — a failed job leaves nothing visible."""
    import os

    from big_data_project_spark.sources.jsonl_sink import _JsonlWriter, _StagedFile

    d = str(tmp_path / "sink")
    os.makedirs(d)
    w = _JsonlWriter({"path": d})
    staged = os.path.join(d, "part-00000.jsonl.tmp-abc")
    final = os.path.join(d, "part-00000.jsonl")
    with open(staged, "w") as fh:
        fh.write('{"k": 1}\n')
    w.commit([_StagedFile(staged, final, 1)])
    assert os.path.exists(final) and not os.path.exists(staged)

    staged2 = os.path.join(d, "part-00001.jsonl.tmp-def")
    with open(staged2, "w") as fh:
        fh.write('{"k": 2}\n')
    # the None slot is a FAILED task's commit message per the pyspark
    # DataSourceWriter contract — abort must skip it, not AttributeError
    w.abort([_StagedFile(staged2, os.path.join(d, "part-00001.jsonl"), 1),
             None,
             _StagedFile(os.path.join(d, "never-existed.tmp"), "x", 0)])
    assert not os.path.exists(staged2)
    assert sorted(os.listdir(d)) == ["part-00000.jsonl"]


def test_jsonl_sink_requires_path():
    from big_data_project_spark.sources.jsonl_sink import _JsonlWriter

    with pytest.raises(ValueError, match="path"):
        _JsonlWriter({})


def test_jsonl_sink_task_failure_leaves_nothing_visible(spark, tmp_path):
    """Failure injection for the two-phase commit's ABORT leg: one task's
    row iterator raises mid-write, the job fails, and the directory must
    expose NO final .jsonl part — the succeeded tasks' staged files are
    removed by abort (which must also tolerate the failed task's None
    commit-message slot); at most orphan .tmp files remain."""
    import os

    from big_data_project_spark.sources import register_jsonl_sink

    register_jsonl_sink(spark)
    from pyspark.sql import functions as F

    @F.udf("long")
    def boom(x):
        if x == 77:
            raise RuntimeError("injected task failure")
        return x

    df = spark.range(0, 100, 1, 4).select(boom("id").alias("v"))
    out = str(tmp_path / "fail_out")
    with pytest.raises(Exception, match="injected task failure"):
        df.write.format("jsonl_files").option("path", out).mode(
            "append"
        ).save()
    files = os.listdir(out) if os.path.isdir(out) else []
    assert not [f for f in files if f.endswith(".jsonl")], files


def test_jsonl_sink_overwrite_clears_stale_parts(spark, tmp_path):
    """ADVICE r3: mode('overwrite') with FEWER partitions than the prior
    write must not leave the prior job's extra parts behind."""
    import os

    from big_data_project_spark.sources import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "ow_out")
    spark.range(0, 40, 1, 4).write.format("jsonl_files").option(
        "path", out
    ).mode("append").save()
    spark.range(100, 110, 1, 2).write.format("jsonl_files").option(
        "path", out
    ).mode("overwrite").save()
    back = spark.read.schema("id long").json(f"{out}/part-*.jsonl")
    assert sorted(r.id for r in back.collect()) == list(range(100, 110))
    assert len([f for f in os.listdir(out) if f.endswith(".jsonl")]) == 2


def test_jsonl_sink_append_does_not_clobber(spark, tmp_path):
    """ADVICE r3: two append jobs write the same partition ids; job-unique
    final names must keep BOTH jobs' rows."""
    from big_data_project_spark.sources import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "ap_out")
    spark.range(0, 20, 1, 2).write.format("jsonl_files").option(
        "path", out
    ).mode("append").save()
    spark.range(20, 40, 1, 2).write.format("jsonl_files").option(
        "path", out
    ).mode("append").save()
    back = spark.read.schema("id long").json(f"{out}/part-*.jsonl")
    assert sorted(r.id for r in back.collect()) == list(range(40))


def test_jsonl_stream_commit_sweeps_stale_replay_parts(tmp_path):
    """ADVICE r3: a replayed micro-batch with FEWER partitions than the
    failed first attempt must delete the first attempt's leftover parts
    for the same batch id (else read-back duplicates rows)."""
    import os

    from big_data_project_spark.sources.jsonl_sink import (
        _JsonlStreamWriter,
        _StagedFile,
    )

    d = str(tmp_path / "replay")
    os.makedirs(d)
    # first (failed) attempt committed two parts for batch 42
    for pid in (0, 1):
        with open(os.path.join(d, f"part-00000042-p{pid:05d}.jsonl"), "w") as fh:
            fh.write('{"k": %d}\n' % pid)
    # an unrelated batch must NOT be touched by batch 42's replay sweep
    with open(os.path.join(d, "part-00000041-p00000.jsonl"), "w") as fh:
        fh.write('{"k": 41}\n')
    # replay: single partition stages and commits for the same batch id
    staged = os.path.join(d, "stage-replay-p00000.jsonl.tmp")
    with open(staged, "w") as fh:
        fh.write('{"k": 99}\n')
    w = _JsonlStreamWriter({"path": d})
    w.commit([_StagedFile(staged, "p00000", 1), None], 42)
    assert sorted(os.listdir(d)) == [
        "part-00000041-p00000.jsonl",
        "part-00000042-p00000.jsonl",
    ]
    with open(os.path.join(d, "part-00000042-p00000.jsonl")) as fh:
        assert fh.read() == '{"k": 99}\n'


def test_python_source_to_python_sink_streaming_pipeline(spark, sf_dir, tmp_path):
    """The FULL Python Data Source matrix in one pipeline: the reddit
    streaming reader feeds the jsonl streaming writer — micro-batches
    land as part-<batchId>-<pid>.jsonl (batch-scoped names = replay-safe),
    no staging litter remains, and the files read back value-identical to
    the fixture."""
    import os

    from big_data_project_spark.sources import register_jsonl_sink

    register_connectors(spark)
    register_jsonl_sink(spark)
    out = str(tmp_path / "stream_out")
    q = (
        spark.readStream.format("reddit_posts")
        .option("path", REDDIT)
        .option("batch_size", "200")
        .load()
        .writeStream.format("jsonl_files")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    files = sorted(os.listdir(out))
    assert files and all(
        f.startswith("part-") and f.endswith(".jsonl") for f in files
    ), files
    back = spark.read.schema(
        "Title string, URL string, Upvotes int, Comments_Count int, Post_Time string"
    ).json(f"{out}/part-*.jsonl")
    want = io.read_json(spark, REDDIT, schema=social.REDDIT_SCHEMA)
    assert back.count() == 500
    assert _sorted_rows(back.select(*want.columns)) == _sorted_rows(want)


# ---------------------------------------------------------------------------
# jsonl_files READ leg: Spark 4.1 Python Data Source filter pushdown
# ---------------------------------------------------------------------------

def test_jsonl_compile_filter_semantics():
    from pyspark.sql.datasource import (
        EqualNullSafe, EqualTo, GreaterThan, In, IsNull, Not, StringStartsWith,
    )

    from big_data_project_spark.sources.jsonl_sink import _compile_filter

    gt = _compile_filter(GreaterThan(("x",), 5))
    assert gt({"x": 6}) and not gt({"x": 5})
    assert not gt({"x": None}), "NULL compare must not match (SQL semantics)"
    inn = _compile_filter(In(("x",), (1, 3)))
    assert inn({"x": 3}) and not inn({"x": 2}) and not inn({"x": None})
    ns = _compile_filter(EqualNullSafe(("x",), None))
    assert ns({"x": None}) and not ns({"x": 1})
    isnull = _compile_filter(IsNull(("x",)))
    assert isnull({"x": None}) and not isnull({"x": 0})
    neg = _compile_filter(Not(EqualTo(("x",), 1)))
    assert neg({"x": 2}) and not neg({"x": 1})
    assert not neg({"x": None}), "NOT(NULL = 1) is still no-match"
    sw = _compile_filter(StringStartsWith(("s",), "ab"))
    assert sw({"s": "abc"}) and not sw({"s": "xab"}) and not sw({"s": None})
    # nested column references are not evaluable here → unsupported
    assert _compile_filter(EqualTo(("a", "b"), 1)) is None
    # NULL inside an In value list: positive case drops it (x = NULL can
    # never match); negated case is UNSUPPORTED — x NOT IN (1, NULL) is
    # NULL (no match) for every non-matching x, which "keep non-matching
    # rows" would get wrong (round-4 ADVICE, medium)
    in_null = _compile_filter(In(("x",), (1, None)))
    assert in_null({"x": 1}) and not in_null({"x": 2}) and not in_null({"x": None})
    assert _compile_filter(Not(In(("x",), (1, None)))) is None
    assert _compile_filter(Not(In(("x",), (1, 3)))) is not None


def test_jsonl_pushdown_not_in_with_null_e2e(spark, tmp_path):
    """x NOT IN (1, NULL) must return ZERO rows (3-value logic), matching
    the same query over the original DataFrame; the source hands the
    negated-In-with-NULL back to Spark instead of mis-evaluating it."""
    from pyspark.sql import functions as F

    from big_data_project_spark.sources import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "notin")
    df = spark.range(0, 20, 1, 2).select(F.col("id").alias("k"))
    df.write.format("jsonl_files").option("path", out).mode("append").save()
    back = (
        spark.read.format("jsonl_files")
        .schema("k long")
        .option("path", out)
        .load()
    )
    cond = "k NOT IN (1, CAST(NULL AS BIGINT))"
    assert back.where(cond).count() == df.where(cond).count() == 0
    # and the positive case with a NULL in the list still matches exactly
    cond_pos = "k IN (1, 5, CAST(NULL AS BIGINT))"
    got = sorted(r.k for r in back.where(cond_pos).collect())
    want = sorted(r.k for r in df.where(cond_pos).collect())
    assert got == want == [1, 5]


def test_jsonl_push_filters_splits_supported_from_unsupported():
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from big_data_project_spark.sources.jsonl_sink import _JsonlReader

    class Exotic(EqualTo):  # stands in for a filter class we don't handle
        pass

    r = _JsonlReader({"path": "/tmp/x"}, None)
    exotic = EqualTo(("a", "b"), 1)  # nested ref → unsupported
    back = list(r.pushFilters([GreaterThan(("k",), 1), exotic]))
    assert back == [exotic]
    assert len(r.pushed) == 1


def test_jsonl_read_leg_roundtrip_and_pushdown_correctness(spark, tmp_path):
    """Write with the sink, read with the reader under a MIX of pushable
    (k > 25, v LIKE 'x%') and unpushable (k % 2 = 0 → arithmetic) filters:
    results must equal the same query over the original DataFrame — the
    source evaluates its share, Spark re-applies the rest."""
    from pyspark.sql import functions as F

    from big_data_project_spark.sources import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "readleg")
    df = spark.range(0, 100, 1, 4).select(
        F.col("id").alias("k"),
        F.concat(F.lit("x"), (F.col("id") % 7).cast("string")).alias("v"),
    )
    df.write.format("jsonl_files").option("path", out).mode("append").save()
    back = (
        spark.read.format("jsonl_files")
        .schema("k long, v string")
        .option("path", out)
        .load()
    )
    cond = (F.col("k") > 25) & (F.col("k") % 2 == 0) & F.col("v").startswith("x")
    got = sorted((r.k, r.v) for r in back.where(cond).collect())
    want = sorted((r.k, r.v) for r in df.where(cond).collect())
    assert got == want and len(got) == 37
    # the pushed share really reached the source: only the arithmetic
    # remainder survives above the scan
    plan = back.where(cond)._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan jsonl_files" in plan
    assert "startswith" not in plan.lower() and "> 25" not in plan
    # an unfiltered read round-trips completely (fresh load per logical
    # query — see the scan-reuse quirk test below)
    fresh = (
        spark.read.format("jsonl_files")
        .schema("k long, v string")
        .option("path", out)
        .load()
    )
    assert fresh.count() == 100


def test_jsonl_pushdown_scan_reuse_quirk(spark, tmp_path):
    """Pins UPSTREAM Spark 4.1 behavior (documented in _JsonlReader): the
    last pushed scan of a Python source is cached in the shared relation,
    so a later FILTERLESS query on the same DataFrame object reuses it —
    still filtered — while re-filtered queries re-plan correctly. If this
    test starts failing with count() == 100, Spark fixed it: delete the
    quirk documentation and collapse the fresh-load workarounds."""
    from pyspark.sql import functions as F

    from big_data_project_spark.sources import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "quirk")
    spark.range(0, 100, 1, 2).select(F.col("id").alias("k")).write.format(
        "jsonl_files"
    ).option("path", out).mode("append").save()
    back = (
        spark.read.format("jsonl_files")
        .schema("k long")
        .option("path", out)
        .load()
    )
    assert back.count() == 100             # fresh: correct
    assert back.where("k > 25").count() == 74
    assert back.count() == 74              # the upstream quirk
    assert back.where("k > 90").count() == 9  # re-push re-plans fine


def test_jsonl_read_leg_null_and_coercion(spark, tmp_path):
    import os

    os.makedirs(str(tmp_path / "nulls"))
    with open(str(tmp_path / "nulls" / "part-00000.jsonl"), "w") as fh:
        fh.write('{"k": 1, "v": "a"}\n')
        fh.write('{"k": null}\n')          # missing + explicit null
        fh.write('{"k": "12", "v": 3}\n')  # junk-typed → coerced
    from big_data_project_spark.sources import register_jsonl_sink

    register_jsonl_sink(spark)
    back = (
        spark.read.format("jsonl_files")
        .schema("k long, v string")
        .option("path", str(tmp_path / "nulls"))
        .load()
    )
    rows = sorted(
        ((r.k, r.v) for r in back.collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    assert rows == [(1, "a"), (12, "3"), (None, None)]
    # IS NULL is pushable and correct
    assert back.where("k IS NULL").count() == 1
