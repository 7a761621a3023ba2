"""Deterministic synthetic web tables (seed=42) per FIXTURES.md.

Generates, for a given scale:
  pages.parquet          (url, warc_ts, html, text, lang)  — BASELINE input_hint
  pages_golden.parquet   (url, zim_path, title, lang_decl, icons, links,
                          js_modules, n_links)              — oracle columns
  warc_records.parquet   (record stream w/ golden zim paths) — FIXTURES §2
  encoded_payloads.parquet (charset decode matrix)           — FIXTURES §3
  seeds.parquet / robots.parquet                             — FIXTURES §4
  golden_redirects.parquet (sequential-reference fixpoint)   — FIXTURES §5

Everything is a pure function of (seed, scale): regenerating is byte-stable
(fixed row order, fixed RNG draws, no wall-clock).  The generator doubles as
the *sequential oracle* for order-dependent semantics: first-wins dedup,
redirect fixpoint, and frontier waves are computed here with the reference's
single-threaded algorithms (converter.py:646-710 loop shape) so the Spark
engine's distributed implementations can be checked against them.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from pathlib import Path
from urllib.parse import urljoin

import pyarrow as pa
import pyarrow.parquet as pq

# Small row groups so Spark can split scans: parquet's minimum split unit is
# the row group — pyarrow's 1M-row default turns a 200k-row table into ONE
# task for every scan/UDF stage (this serialized the whole sf0.1 bench to a
# single core before it hit the first shuffle).
ROW_GROUP_SIZE = 8192


def _write(table: pa.Table, path) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP_SIZE)

from warc2zim_spark.kernels.htmlmeta import extract_meta
from warc2zim_spark.kernels.posturl import canonical_request_url
from warc2zim_spark.kernels.surt import canonicalize, url_host
from warc2zim_spark.kernels.textextract import extract_text

SEED = 42
BASE_TS = dt.datetime(2025, 3, 1, 0, 0, 0)

# pages per scale tier (FIXTURES.md §1: test=2k, bench=200k)
SCALE_PAGES = {"sf0.001": 400, "sf0.01": 2000, "sf0.1": 200_000}

LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]  # en-heavy mix
_LANG_WORDS = {
    "en": "the quick brown fox jumps over lazy dog and runs with you for this that",
    "es": "que los las del una por con para est como más casa perro gato vive",
    "fr": "les des une est que pour dans avec sur pas vous maison chien chat",
    "de": "der die und das ist ein nicht mit sich auf den haus hund katze",
    "zh": "你好 世界 数据 处理 引擎 分布 计算 网络 页面 内容 文本 提取",
}
_CHARSETS = ["utf-8"] * 16 + ["iso-8859-1"] * 2 + ["gbk"] + [None]  # None → http header only


def _zipf_host(rng: random.Random, n_hosts: int) -> int:
    """Zipf-skewed host index: a few hot hosts (for hot-host skew tests)."""
    r = rng.random()
    # 30% of traffic on host 0, 15% on host 1, long tail beyond
    if r < 0.30:
        return 0
    if r < 0.45:
        return 1
    if r < 0.55:
        return 2
    return 3 + rng.randrange(max(1, n_hosts - 3))


def _host_name(idx: int) -> str:
    if idx % 97 == 5:  # ~1% punycode hosts
        return f"xn--bcher-{idx}-kva.example"
    return f"site{idx}.example"


def _page_path(rng: random.Random, i: int) -> str:
    kind = rng.random()
    if kind < 0.1:
        return f"/dir{i % 13}/page%20{i}.html"  # percent-encoded space
    if kind < 0.2:
        return f"/a/b/p{i}"
    return f"/page{i}.html"


def _page_query(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.05:
        return f"?{1700000000 + rng.randrange(10**6)}"  # numeric cache buster
    if r < 0.15:
        return f"?v={rng.randrange(9)}&lang=x"
    return ""


def _words(rng: random.Random, lang: str, n: int) -> str:
    vocab = _LANG_WORDS[lang].split()
    return " ".join(rng.choice(vocab) for _ in range(n))


def _make_html(
    rng: random.Random, i: int, lang: str, charset: str | None,
    title: str, link_urls: list[str], body_words: str,
) -> str:
    meta_charset = f'<meta charset="{charset}">' if charset else ""
    icon = f'<link rel="icon" href="/favicon{i % 7}.ico">' if i % 3 == 0 else ""
    icon2 = '<link rel="shortcut icon" href="/alt.ico">' if i % 11 == 0 else ""
    module = f'<script type="module" src="/js/mod{i % 5}.mjs"></script>' if i % 10 == 0 else ""
    style = '<style>.h { background: url("/img/bg.png"); }</style>' if i % 6 == 0 else ""
    lang_attr = f' lang="{lang}"' if i % 10 != 7 else ""  # ~10% missing lang
    links_html = "\n".join(f'<a href="{u}">link {j}</a>' for j, u in enumerate(link_urls))
    srcset = (
        f'<img src="/img/{i}.png" srcset="/img/{i}-1x.png 1x, /img/{i}-2x.png 2x">'
        if i % 8 == 0
        else ""
    )
    return (
        f"<html{lang_attr}><head>{meta_charset}<title>{title}</title>"
        f"{icon}{icon2}{module}{style}</head>"
        f"<body><h1>{title}</h1><p>{body_words}</p>{links_html}{srcset}</body></html>"
    )


def generate_pages(scale: str, seed: int = SEED) -> tuple[pa.Table, pa.Table]:
    """→ (pages, pages_golden) arrow tables, deterministic in (scale, seed)."""
    n = SCALE_PAGES[scale]
    n_hosts = max(8, n // 40)
    rng = random.Random(seed)
    urls: list[str] = []
    # pre-draw url space so links can point at real pages (closed-ish graph)
    metas = []
    for i in range(n):
        host = _host_name(_zipf_host(rng, n_hosts))
        path = _page_path(rng, i)
        query = _page_query(rng)
        scheme = "https" if rng.random() < 0.9 else "http"
        urls.append(f"{scheme}://{host}{path}{query}")
    rows_pages = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    rows_golden = {
        k: []
        for k in ("url", "zim_path", "title", "lang_decl", "icons", "links",
                   "js_modules", "n_links", "host")
    }
    for i, url in enumerate(urls):
        lang = rng.choice(LANGS)
        charset = rng.choice(_CHARSETS)
        title = f"Page {i} " + _words(rng, lang, 2)
        n_links = rng.randrange(2, 8)
        internal = [urls[rng.randrange(n)] for _ in range(n_links - 1)]
        external = [f"https://offsite{rng.randrange(50)}.example/x{i}"] if rng.random() < 0.3 else []
        body = _words(rng, lang, 30 + rng.randrange(120))
        html_str = _make_html(rng, i, lang, charset, title, internal + external, body)
        encode_as = charset or "utf-8"
        if lang == "zh" and encode_as in ("iso-8859-1",):
            encode_as = "utf-8"  # latin1 can't carry CJK; keep generator total
            html_str = html_str.replace('charset="iso-8859-1"', 'charset="utf-8"')
        html_bytes = html_str.encode(encode_as, errors="replace")
        text = extract_text(html_str)
        meta = extract_meta(html_str)
        ts = BASE_TS + dt.timedelta(seconds=i * 997 % (3 * 86400))  # ≥2-day span
        rows_pages["url"].append(url)
        rows_pages["warc_ts"].append(ts)
        rows_pages["html"].append(html_bytes)
        rows_pages["text"].append(text)
        rows_pages["lang"].append(lang if i % 10 != 7 else "")
        rows_golden["url"].append(url)
        rows_golden["zim_path"].append(canonicalize(url))
        rows_golden["title"].append(meta["title"])
        rows_golden["lang_decl"].append(meta["lang_decl"])
        rows_golden["icons"].append(meta["icons"])
        rows_golden["links"].append(meta["links"])
        rows_golden["js_modules"].append(meta["js_modules"])
        rows_golden["n_links"].append(len(meta["links"]))
        rows_golden["host"].append(url_host(url))
    pages = pa.table(
        {
            "url": pa.array(rows_pages["url"], pa.string()),
            "warc_ts": pa.array(rows_pages["warc_ts"], pa.timestamp("us")),
            "html": pa.array(rows_pages["html"], pa.binary()),
            "text": pa.array(rows_pages["text"], pa.string()),
            "lang": pa.array(rows_pages["lang"], pa.string()),
        }
    )
    golden = pa.table(
        {
            "url": pa.array(rows_golden["url"], pa.string()),
            "zim_path": pa.array(rows_golden["zim_path"], pa.string()),
            "title": pa.array(rows_golden["title"], pa.string()),
            "lang_decl": pa.array(rows_golden["lang_decl"], pa.string()),
            "icons": pa.array(rows_golden["icons"], pa.list_(pa.string())),
            "links": pa.array(rows_golden["links"], pa.list_(pa.string())),
            "js_modules": pa.array(rows_golden["js_modules"], pa.list_(pa.string())),
            "n_links": pa.array(rows_golden["n_links"], pa.int64()),
            "host": pa.array(rows_golden["host"], pa.string()),
        }
    )
    return pages, golden


# --------------------------------------------------------------------------
# warc_records
# --------------------------------------------------------------------------

_STATUS_MATRIX = [200, 201, 202, 203, 204, 206, 300, 301, 302, 303, 304, 305,
                  306, 307, 308, 400, 401, 403, 404, 500, 501, 502, 0]


def generate_warc_records(pages: pa.Table, seed: int = SEED) -> pa.Table:
    """Record stream derived from pages + adversarial noise rows (FIXTURES §2).

    Emits rows in the total order (file_seq, rec_seq); golden columns
    ``zim_path_g`` (canonicalized effective url), ``urlkey_g`` (synthesized
    POST/PUT url), ``redirect_target_path_g`` (canonicalized resolved
    Location) are computed with the frozen kernels so SQL oracles can consume
    them while the engine recomputes from raw fields.
    """
    rng = random.Random(seed + 1)
    urls = pages.column("url").to_pylist()
    htmls = pages.column("html").to_pylist()
    ts_col = pages.column("warc_ts").to_pylist()
    n = len(urls)

    cols: dict[str, list] = {
        k: []
        for k in (
            "file_seq", "rec_seq", "rec_type", "url", "warc_date", "record_id",
            "concurrent_to", "status", "mime", "resourcetype", "http_location",
            "refers_to_url", "payload", "payload_head", "payload_len",
            "payload_digest", "http_charset",
            "req_method", "req_mime", "req_body", "req_content_length",
            "zim_path_g", "urlkey_g", "redirect_target_path_g",
            "refers_to_path_g",
        )
    }
    counter = {"file_seq": 0, "rec_seq": 0, "rid": 0}

    def next_rid() -> str:
        counter["rid"] += 1
        return f"<urn:uuid:{counter['rid']:032x}>"

    def maybe_rotate_file() -> None:
        # rotate between logical groups only — a request/response pair must
        # never straddle a file boundary (pairing is per-file: converter.py
        # iterates files, bufferiter pairs within one ArchiveIterator)
        if counter["rec_seq"] - counter.get("file_start", 0) >= 1000:
            counter["file_seq"] += 1
            counter["file_start"] = counter["rec_seq"]

    def emit(
        rec_type: str, url: str | None, *, status=None, mime=None, payload=b"",
        resourcetype=None, http_location=None, refers_to_url=None,
        record_id=None, concurrent_to=None, http_charset=None, req_method=None,
        req_mime=None, req_body=None, req_content_length=None, warc_date=None,
        urlkey=None,
    ) -> None:
        counter["rec_seq"] += 1
        effective_url = urlkey if urlkey else url
        cols["file_seq"].append(counter["file_seq"])
        cols["rec_seq"].append(counter["rec_seq"])
        cols["rec_type"].append(rec_type)
        cols["url"].append(url)
        cols["warc_date"].append(warc_date or BASE_TS)
        cols["record_id"].append(record_id or next_rid())
        cols["concurrent_to"].append(concurrent_to)
        cols["status"].append(status)
        cols["mime"].append(mime)
        cols["resourcetype"].append(resourcetype)
        cols["http_location"].append(http_location)
        cols["refers_to_url"].append(refers_to_url)
        cols["payload"].append(payload)
        # first KB as its own column: charset sniff / failure probe stages
        # column-prune to this instead of scanning full payload bytes
        cols["payload_head"].append((payload or b"")[:1024])
        cols["payload_len"].append(len(payload or b""))
        cols["payload_digest"].append(
            "sha256:" + hashlib.sha256(payload or b"").hexdigest()
        )
        cols["http_charset"].append(http_charset)
        cols["req_method"].append(req_method)
        cols["req_mime"].append(req_mime)
        cols["req_body"].append(req_body)
        cols["req_content_length"].append(req_content_length)
        cols["zim_path_g"].append(canonicalize(effective_url) if effective_url else None)
        cols["urlkey_g"].append(urlkey)
        if http_location and url:
            cols["redirect_target_path_g"].append(
                canonicalize(urljoin(url, http_location))
            )
        else:
            cols["redirect_target_path_g"].append(None)
        cols["refers_to_path_g"].append(
            canonicalize(refers_to_url) if refers_to_url else None
        )

    # one warcinfo per "file" worth of records, first row
    emit("warcinfo", None, mime="application/warc-fields",
         payload=b"software: synthetic-crawler 1.0\r\n")

    dup_pool: list[int] = []
    revisit_pool: list[int] = []
    for i in range(n):
        maybe_rotate_file()
        url, html, ts = urls[i], htmls[i], ts_col[i]
        rid = next_rid()
        r = rng.random()
        # 8%: adjacent request/response pair (request first)
        if r < 0.08:
            req_id = next_rid()
            if rng.random() < 0.5:
                # POST with form/json body (urlkey synthesized)
                method = "POST"
                if rng.random() < 0.5:
                    req_mime, req_body = (
                        "application/x-www-form-urlencoded",
                        f"q={i}&page=%2Fp{i}".encode(),
                    )
                else:
                    req_mime, req_body = (
                        "application/json",
                        ('{"query": "q%d", "page": %d}' % (i, i)).encode(),
                    )
                urlkey = canonical_request_url(url, method, req_mime, req_body, len(req_body))
                emit("request", url, record_id=req_id, concurrent_to=None,
                     req_method=method, req_mime=req_mime, req_body=req_body,
                     req_content_length=len(req_body), warc_date=ts)
                emit("response", url, status=200, mime="text/html", payload=html,
                     concurrent_to=req_id, http_charset=None, warc_date=ts,
                     req_method=method, req_mime=req_mime, req_body=req_body,
                     req_content_length=len(req_body), urlkey=urlkey)
            else:
                emit("request", url, record_id=req_id, req_method="GET", warc_date=ts)
                emit("response", url, status=200, mime="text/html", payload=html,
                     concurrent_to=req_id, warc_date=ts)
        else:
            http_charset = "utf-8" if rng.random() < 0.2 else None
            payload = html if rng.random() > 0.01 else b""  # 1% empty payloads
            emit("response", url, status=200, mime="text/html", payload=payload,
                 record_id=rid, http_charset=http_charset, warc_date=ts)
        if rng.random() < 0.05:
            dup_pool.append(i)
        if rng.random() < 0.08:
            revisit_pool.append(i)

    # 5% exact URL duplicates — later occurrence must LOSE first-wins dedup
    for i in dup_pool:
        emit("response", urls[i], status=200, mime="text/html",
             payload=b"<html><body>LATE DUPLICATE - MUST NOT WIN</body></html>",
             warc_date=ts_col[i])

    # revisits pointing at earlier urls (+ a few self-referencing, skipped)
    for j, i in enumerate(revisit_pool):
        target = urls[(i * 7 + 3) % n]
        revisit_url = f"https://revisit{j}.example/r{j}"
        if j % 17 == 0:
            target = revisit_url  # self-referencing revisit → skipped
        emit("revisit", revisit_url, status=200, refers_to_url=target,
             warc_date=ts_col[i])

    # status-code matrix rows (website.test shape, pinned whitelist behavior)
    for status in _STATUS_MATRIX:
        u = f"https://statuses.example/{status}-response"
        emit("response", u, status=status, mime="text/html",
             payload=f"<html><body>status {status}</body></html>".encode())
    emit("response", "https://statuses.example/no-status", status=None,
         mime="text/html", payload=b"<html><body>none</body></html>")

    # redirects: ok-internal, chain, loops, self, external-missing
    first_page = urls[0]
    emit("response", "https://redir.example/ok-internal", status=301,
         mime="text/html", http_location=first_page)
    emit("response", "https://redir.example/chain-a", status=302,
         mime="text/html", http_location="/chain-b")
    emit("response", "https://redir.example/chain-b", status=307,
         mime="text/html", http_location="https://redir.example/chain-c")
    emit("response", "https://redir.example/chain-c", status=308,
         mime="text/html", http_location=urls[1 % n])
    emit("response", "https://redir.example/loop-a", status=301,
         mime="text/html", http_location="/loop-b")
    emit("response", "https://redir.example/loop-b", status=301,
         mime="text/html", http_location="/loop-a")
    emit("response", "https://redir.example/loop-self", status=301,
         mime="text/html", http_location="/loop-self")
    emit("response", "http://redir.example/http-to-https", status=301,
         mime="text/html", http_location="https://redir.example/http-to-https")
    emit("response", "https://redir.example/external-missing", status=302,
         mime="text/html", http_location="https://nowhere.example/missing")
    # redirect whose source path also exists as a 200 item (source expected →
    # redirect ignored, converter.py:655-657)
    emit("response", "https://redir.example/also-item", status=200,
         mime="text/html", payload=b"<html><body>item wins</body></html>")
    emit("response", "https://redir.example/also-item", status=301,
         mime="text/html", http_location=first_page)

    # J3/C11 icon fixture: payload rows for the MAIN page's declared icons
    # (reference captures these in-stream, converter.py:548-556). Sizes
    # cycle 96/48/16 so the ranking tiers all appear; a trailing corrupt row
    # exercises the failed-parse skip when the page declares ≥2 icons.
    from warc2zim_spark.kernels.htmlmeta import extract_meta as _extract_meta
    from warc2zim_spark.kernels.imagemeta import make_png as _make_png

    mp_idx = None
    for j in range(len(cols["rec_seq"])):
        if (
            cols["rec_type"][j] == "response"
            and cols["status"][j] == 200
            and (cols["mime"][j] or "").split(";")[0] == "text/html"
            and len(cols["payload"][j] or b"") > 0
            and cols["url"][j]
            and cols["url"][j].startswith(("http://", "https://"))
        ):
            mp_idx = j
            break
    if mp_idx is not None:
        mp_url = cols["url"][mp_idx]
        mp_html = (cols["payload"][mp_idx] or b"").decode("utf-8", errors="replace")
        hrefs = _extract_meta(mp_html)["icons"] or ["/favicon.ico"]
        icon_urls = [
            urljoin(mp_url, h) for h in hrefs
        ]
        icon_urls = [u for u in icon_urls if u.startswith(("http://", "https://"))]
        sizes = [96, 48, 16]
        for k, icon_url in enumerate(icon_urls):
            emit("response", icon_url, status=200, mime="image/png",
                 payload=_make_png(sizes[k % 3]))

    # J5 main-page redirect chain: a --url stand-in at main-start follows
    # 302 → 301 → 307 to a real page. Forward-in-stream and acyclic with one
    # record per path, so the reference's positional forward-scan
    # (converter.py:586-606) and the engine's position-free chase agree.
    emit("response", "https://redir.example/main-start", status=302,
         mime="text/html", http_location="/main-hop1")
    emit("response", "https://redir.example/main-hop1", status=301,
         mime="text/html", http_location="/main-hop2")
    emit("response", "https://redir.example/main-hop2", status=307,
         mime="text/html", http_location=urls[2 % n])

    # non-http schemes + empty urls (filtered) — use resource/noise rows
    emit("response", "intent://open.app/x", status=200, mime="text/html",
         payload=b"<html>app</html>")
    emit("response", "", status=200, mime="text/html", payload=b"<html>empty</html>")
    emit("resource", "https://statuses.example/resource-row", status=200,
         mime="text/html", payload=b"<html>resource</html>")

    # fuzzy rows (youtube/vimeo/timestamp shapes)
    emit("response",
         "https://www.youtube.com/get_video_info?html5=1&video_id=aT-Up5Y4uRI&cpn=x",
         status=200, mime="application/json", payload=b'{"status": "ok"}')
    emit("response",
         "https://r4---sn-x.googlevideo.com/videoplayback?expire=1&id=o-AE3bgJe9i&itag=18",
         status=200, mime="video/mp4", payload=b"\x00\x00\x00\x18ftypmp42")
    emit("response", "https://player.vimeo.com/video/347119375?autoplay=1",
         status=200, mime="text/html", payload=b"<html>vimeo</html>")
    emit("response", "https://statuses.example/cached.txt?1594252804305",
         status=200, mime="text/plain", payload=b"cache-busted")

    # C5 ES-module fixture: five real modules on page-0's host importing in
    # a ring. Page 0's html references /js/mod0.mjs as type=module, so mod0
    # is DISCOVERED (is_module=True → import re-pointing); mod1-4 exist as
    # items but are never referenced as modules → classic wombat wrap.
    host0 = urls[0].split("/")[2]
    for k in range(5):
        nxt = (k + 1) % 5
        body = (
            f"import {{ a{nxt} }} from './mod{nxt}.mjs';\n"
            f"const dyn = import('/js/mod{(k + 2) % 5}.mjs');\n"
            "import 'bare-specifier';\n"
            "import 'https://cdn-missing.example/lib.js';\n"
            f"export const a{k} = {k};\n"
        )
        emit("response", f"https://{host0}/js/mod{k}.mjs", status=200,
             mime="text/javascript", payload=body.encode("utf-8"),
             resourcetype="script")

    # css/js/json rows for rewrite-mode coverage
    emit("response", "https://statuses.example/style.css", status=200,
         mime="text/css", payload=b"body { background: url('/bg.png'); }",
         resourcetype="stylesheet")
    emit("response", "https://statuses.example/app.js", status=200,
         mime="text/javascript", payload=b"var x = 1;", resourcetype="script")
    emit("response", "https://statuses.example/data.json", status=200,
         mime="application/json", payload=b'{"k": "v"}', resourcetype="xhr")
    emit("response", "https://statuses.example/manifest.json", status=200,
         mime="text/plain", payload=b'{"name": "app"}', resourcetype="manifest")
    emit("response", "https://statuses.example/forced.css", status=200,
         mime="text/html", payload=b".x{}", resourcetype="stylesheet")

    # S10 poison rows — the --continue-on-error failure class (reference
    # converter.py:411-437): a text-mode record whose decode RAISES (not the
    # tier-c None case — a declared/HTTP charset naming an unknown codec
    # raises LookupError through utils.py's errors=replace decode in the
    # reference too). These must become quarantine rows, never task failures.
    emit("response", "https://statuses.example/poison-1.html", status=200,
         mime="text/html",
         payload=b'<html><head><meta charset="bogus-enc"></head>'
                 b"<body>poisoned</body></html>")
    emit("response", "https://statuses.example/poison-2.css", status=200,
         mime="text/css", payload=b"body { color: red }",
         resourcetype="stylesheet", http_charset="bogus-charset")

    return pa.table(
        {
            "file_seq": pa.array(cols["file_seq"], pa.int64()),
            "rec_seq": pa.array(cols["rec_seq"], pa.int64()),
            "rec_type": pa.array(cols["rec_type"], pa.string()),
            "url": pa.array(cols["url"], pa.string()),
            "warc_date": pa.array(cols["warc_date"], pa.timestamp("us")),
            "record_id": pa.array(cols["record_id"], pa.string()),
            "concurrent_to": pa.array(cols["concurrent_to"], pa.string()),
            "status": pa.array(cols["status"], pa.int32()),
            "mime": pa.array(cols["mime"], pa.string()),
            "resourcetype": pa.array(cols["resourcetype"], pa.string()),
            "http_location": pa.array(cols["http_location"], pa.string()),
            "refers_to_url": pa.array(cols["refers_to_url"], pa.string()),
            "payload": pa.array(cols["payload"], pa.binary()),
            "payload_head": pa.array(cols["payload_head"], pa.binary()),
            "payload_len": pa.array(cols["payload_len"], pa.int64()),
            "payload_digest": pa.array(cols["payload_digest"], pa.string()),
            "http_charset": pa.array(cols["http_charset"], pa.string()),
            "req_method": pa.array(cols["req_method"], pa.string()),
            "req_mime": pa.array(cols["req_mime"], pa.string()),
            "req_body": pa.array(cols["req_body"], pa.binary()),
            "req_content_length": pa.array(cols["req_content_length"], pa.int64()),
            "zim_path_g": pa.array(cols["zim_path_g"], pa.string()),
            "urlkey_g": pa.array(cols["urlkey_g"], pa.string()),
            "redirect_target_path_g": pa.array(cols["redirect_target_path_g"], pa.string()),
            "refers_to_path_g": pa.array(cols["refers_to_path_g"], pa.string()),
        }
    )


# --------------------------------------------------------------------------
# sequential redirect fixpoint — the reference's algorithm, used as oracle
# --------------------------------------------------------------------------

def sequential_redirect_fixpoint(
    redirections: dict[str, str], expected: set[str]
) -> tuple[dict[str, str], set[str]]:
    """Pure-python port of converter.py:646-710: returns (kept_redirections,
    expected ∪ kept-sources). Loop/self/missing-target chains dropped."""
    to_ignore: set[str] = set()
    expected = set(expected)
    for src, tgt in redirections.items():
        if src in to_ignore:
            continue
        if src in expected:
            to_ignore.add(src)
            continue
        final = tgt
        chain = [src]
        while final in redirections and final not in chain and final not in expected:
            if final == redirections[final]:
                break
            chain.append(final)
            final = redirections[final]
        if final in chain:
            to_ignore.update(chain)
        elif final in expected:
            expected.add(src)
        else:
            to_ignore.add(src)
    kept = {s: t for s, t in redirections.items() if s not in to_ignore}
    return kept, expected


# --------------------------------------------------------------------------
# decode matrix, seeds, robots
# --------------------------------------------------------------------------

def generate_encoded_payloads() -> pa.Table:
    """Charset decode matrix (FIXTURES §3, mirrors tests/test_utils.py)."""
    from warc2zim_spark.kernels.decode import to_string_or_none

    cases = []  # (case_id, payload, http_charset, mode[, charsets_csv])
    contents = {"ascii": "abc", "latin1": "café", "latin2": "Bűvös", "chinese": "你好"}
    encodings = ["ascii", "utf-8", "utf-16", "utf-32", "latin1", "iso8859_2", "gb2312", "gbk"]
    for cname, content in contents.items():
        for enc in encodings:
            try:
                body = f'<html><head><meta charset="{enc}"></head><body>{content}</body></html>'.encode(enc)
            except (UnicodeEncodeError, LookupError):
                continue
            cases.append((f"declared-{cname}-{enc}", body, None, "html"))
            try:
                plain = content.encode(enc)
            except UnicodeEncodeError:
                continue
            cases.append((f"http-{cname}-{enc}", plain, enc, "html"))
            cases.append((f"trylist-{cname}-{enc}", plain, None, "html"))
    cases.append(("alias-ansi", "café".encode("windows-1252"), "ansi", "html"))
    cases.append(("alias-65001", "café".encode("utf-8"), "65001", "html"))
    cases.append(("bad-bytes", b"\xff\xfe\xff bad \xff", None, "html"))
    cases.append(("beyond-window", b" " * 2000 + b'<meta charset="utf-8">caf\xc3\xa9', None, "html"))
    cases.append(("empty", b"", None, "html"))
    cases.append(("non-html-ignores-decl", '<meta charset="latin1">café'.encode("utf-8"), None, "css"))
    # restricted try-lists: tier (c) can actually fail (quarantine rows) —
    # the engine-default list ends in latin1 which decodes anything
    cases.append(("strict-fail", b"\xff\xfe junk \xff", None, "css", "ascii,utf-8"))
    cases.append(("strict-ok", "héllo".encode("utf-8"), None, "css", "ascii,utf-8"))
    cases.append(("strict-fail-2", "你好".encode("gbk"), None, "css", "ascii,utf-8"))

    ids, payloads, charsets, modes, csvs, expected, expect_error = [], [], [], [], [], [], []
    for case in cases:
        case_id, payload, http_charset, mode = case[:4]
        charsets_csv = case[4] if len(case) > 4 else None
        try_list = charsets_csv.split(",") if charsets_csv else None
        out = to_string_or_none(
            payload, http_charset, try_list,
            ignore_content_header_charsets=(mode != "html"),
        )
        ids.append(case_id)
        payloads.append(payload)
        charsets.append(http_charset)
        modes.append(mode)
        csvs.append(charsets_csv)
        expected.append(out)
        expect_error.append(out is None)
    return pa.table(
        {
            "case_id": pa.array(ids, pa.string()),
            "payload": pa.array(payloads, pa.binary()),
            "http_charset": pa.array(charsets, pa.string()),
            "mode": pa.array(modes, pa.string()),
            "charsets_csv": pa.array(csvs, pa.string()),
            "expected_text": pa.array(expected, pa.string()),
            "expect_error": pa.array(expect_error, pa.bool_()),
        }
    )


def generate_jsonp_cases() -> pa.Table:
    """C6/C7 jsonp/json rewrite matrix (rewriting.py:22-26, 264-279):
    anchored callback regex (dead for absolute URLs — the reference quirk),
    comment-prefixed bodies, '?' callback exclusion, case-insensitive keys.
    Expectations are NOT stored — the oracle re-derives them in SQL."""
    cases = [
        ("match-basic", "?callback=myFn", 'oldFn({"a":1})'),
        ("dead-absolute-url", "https://x.example/api?callback=myFn", 'oldFn({"a":1})'),
        ("comment-prefixed", "?jsonp=j2", '/* hdr */\n// note\n fn.name({"x":1})'),
        ("no-callback-param", "?other=1", "fn({1})"),
        ("question-callback", "?callback=?&x=1", "fn({1})"),
        ("non-jsonp-body", "?callback=cb", "var x = 1;"),
        ("case-insensitive-key", "?CALLBACK=Mixed", "fn([1])"),
        ("jsonp-key-second", "?a=1&jsonp=jj", "f9({"),
        ("array-open", "?callback=arr", "wrap([{...}])"),
        ("dotted-fn", "?callback=c.b", "ns.inner.fn({})"),
    ]
    return pa.table(
        {
            "case_id": pa.array([c[0] for c in cases], pa.string()),
            "url": pa.array([c[1] for c in cases], pa.string()),
            "content": pa.array([c[2] for c in cases], pa.string()),
        }
    )


def generate_seeds(pages_golden: pa.Table, seed: int = SEED) -> pa.Table:
    """Fixed seed list: first page per of the 5 hottest hosts (FIXTURES §4)."""
    rng = random.Random(seed + 2)
    urls = pages_golden.column("url").to_pylist()
    hosts = pages_golden.column("host").to_pylist()
    seen_hosts: dict[str, str] = {}
    for url, host in zip(urls, hosts):
        if host not in seen_hosts:
            seen_hosts[host] = url
    seed_urls = list(seen_hosts.values())[:5]
    return pa.table(
        {
            "url": pa.array(seed_urls, pa.string()),
            "score": pa.array([round(1.0 - 0.1 * i, 3) for i in range(len(seed_urls))], pa.float64()),
            "hops": pa.array([0] * len(seed_urls), pa.int32()),
        }
    )


def generate_robots(pages_golden: pa.Table, seed: int = SEED) -> pa.Table:
    """Per-host robots rules: deny-all host, path-prefix disallow, crawl
    delays; hosts with no row = allow-all (FIXTURES §4)."""
    hosts = sorted(set(pages_golden.column("host").to_pylist()))
    rng = random.Random(seed + 3)
    h, rule_type, prefix, delay = [], [], [], []
    for i, host in enumerate(hosts):
        if i % 23 == 11:
            h.append(host); rule_type.append("disallow"); prefix.append("/"); delay.append(0)
        elif i % 7 == 3:
            h.append(host); rule_type.append("disallow"); prefix.append("/a/"); delay.append(0)
        if i % 5 == 0:
            h.append(host); rule_type.append("allow"); prefix.append("/"); delay.append(500 * (1 + i % 4))
    return pa.table(
        {
            "host": pa.array(h, pa.string()),
            "rule_type": pa.array(rule_type, pa.string()),
            "path_prefix": pa.array(prefix, pa.string()),
            "crawl_delay_ms": pa.array(delay, pa.int32()),
        }
    )


def generate_rewrite_goldens(pages: pa.Table, golden: pa.Table) -> pa.Table:
    """Sequential rewrite goldens: for each page, the sha256 of its HTML with
    internal links re-pointed against the full page-key set (the C3/C4
    invariant table). Kept to small scales — the bench tier exercises the
    operator without a golden."""
    import hashlib as _hashlib

    from warc2zim_spark.kernels.decode import to_string_or_none
    from warc2zim_spark.kernels.urlrewrite import (
        rewrite_html_full,
        rewrite_html_links,
    )

    urls = pages.column("url").to_pylist()
    htmls = pages.column("html").to_pylist()
    seen = frozenset(p for p in golden.column("zim_path").to_pylist() if p)
    out_urls, shas, full_shas, titles = [], [], [], []
    for url, html in zip(urls, htmls):
        html_str = to_string_or_none(html, None) or ""
        rewritten = rewrite_html_links(html_str, url, seen)
        title, full = rewrite_html_full(html_str, url, seen, custom_css=True)
        out_urls.append(url)
        shas.append(_hashlib.sha256(rewritten.encode("utf-8")).hexdigest())
        full_shas.append(_hashlib.sha256(full.encode("utf-8")).hexdigest())
        titles.append(title)
    return pa.table(
        {
            "url": pa.array(out_urls, pa.string()),
            "html_rw_sha": pa.array(shas, pa.string()),
            "html_full_sha": pa.array(full_shas, pa.string()),
            "title_rw": pa.array(titles, pa.string()),
        }
    )


def sequential_crawl(
    pages: pa.Table,
    robots: pa.Table,
    seeds: pa.Table,
    max_waves: int = 4,
    host_budget: int = 8,
    wave_budget: int = 1000,
    wave_ms: int = 30_000,
    score_decay: float = 0.5,
) -> pa.Table:
    """Single-threaded oracle for the BFS crawl (frontier/crawl.py spec):
    per wave — best-(hops,score,min-url) per surt key, unseen filter, robots
    longest-prefix gate (allow on tie), per-host politeness budget in
    (hops, -score, surt) order, global priority + wave budget, fetch =
    first-url page per key, link extraction → next frontier. Independent
    implementation: dict/loops here vs DataFrame ops in the engine."""
    from urllib.parse import urljoin

    from warc2zim_spark.kernels.htmlmeta import extract_meta
    from warc2zim_spark.kernels.surt import canonicalize, url_host

    # page lookup: first (lexicographic url) page per surt key
    page_links: dict[str, tuple[str, list[str]]] = {}
    urls = pages.column("url").to_pylist()
    htmls = pages.column("html").to_pylist()
    by_key: dict[str, list[tuple[str, bytes]]] = {}
    for url, html in zip(urls, htmls):
        key = canonicalize(url)
        if key is not None:
            by_key.setdefault(key, []).append((url, html))
    for key, entries in by_key.items():
        url, html = min(entries, key=lambda e: e[0])
        from warc2zim_spark.kernels.decode import to_string_or_none

        html_str = to_string_or_none(html, None) or ""
        page_links[key] = (url, extract_meta(html_str)["links"])

    rules: dict[str, list[tuple[str, str]]] = {}
    delays: dict[str, int] = {}
    for i in range(robots.num_rows):
        host = robots.column("host")[i].as_py()
        rules.setdefault(host, []).append(
            (robots.column("rule_type")[i].as_py(), robots.column("path_prefix")[i].as_py())
        )
        delay = robots.column("crawl_delay_ms")[i].as_py()
        delays[host] = max(delays.get(host, 0), delay or 0)

    def allowed(host: str, surt: str) -> bool:
        path = surt[len(host):]
        matching = [
            (rule_type, prefix)
            for rule_type, prefix in rules.get(host, [])
            if path.startswith(prefix)
        ]
        if not matching:
            return True
        best_len = max(len(p) for _, p in matching)
        best = [rt for rt, p in matching if len(p) == best_len]
        return "allow" in best  # allow wins ties

    def budget_of(host: str) -> int:
        delay = delays.get(host, 0)
        if delay and delay > 0:
            return min(host_budget, wave_ms // delay)
        return host_budget

    def resolve(base: str, href: str):
        href = href.strip()
        if href.startswith(("#", "javascript:", "data:", "mailto:")):
            return None
        try:
            return urljoin(base, href)
        except ValueError:
            return None

    frontier: list[tuple[str, int, float]] = [
        (seeds.column("url")[i].as_py(), seeds.column("hops")[i].as_py(),
         seeds.column("score")[i].as_py())
        for i in range(seeds.num_rows)
    ]
    seen: set[str] = set()
    out = {k: [] for k in ("wave", "url", "surt_key", "host", "hops", "score")}
    for wave in range(max_waves):
        best: dict[str, tuple[int, float, str]] = {}
        for url, hops, score in frontier:
            key = canonicalize(url)
            if key is None:
                continue
            if key in best:
                h, s, u = best[key]
                best[key] = (min(h, hops), max(s, score), min(u, url))
            else:
                best[key] = (hops, score, url)
        cands = [
            (key, h, s, u, url_host(u))
            for key, (h, s, u) in best.items()
            if key not in seen
        ]
        cands = [c for c in cands if c[4] is not None and allowed(c[4], c[0])]
        # per-host politeness in (hops, -score, surt) order
        cands.sort(key=lambda c: (c[1], -c[2], c[0]))
        per_host: dict[str, int] = {}
        polite = []
        for key, h, s, u, host in cands:
            n = per_host.get(host, 0)
            if n < budget_of(host):
                per_host[host] = n + 1
                polite.append((key, h, s, u, host))
        scheduled = polite[:wave_budget]  # already in global priority order
        if not scheduled:
            break
        next_frontier: list[tuple[str, int, float]] = []
        for key, h, s, u, host in scheduled:
            out["wave"].append(wave)
            out["url"].append(u)
            out["surt_key"].append(key)
            out["host"].append(host)
            out["hops"].append(h)
            out["score"].append(round(s, 9))
            seen.add(key)
            if key in page_links:
                page_url, links = page_links[key]
                for href in links:
                    dst = resolve(u, href)
                    if dst is not None:
                        next_frontier.append((dst, h + 1, s * score_decay))
        frontier = next_frontier
    return pa.table(
        {
            "wave": pa.array(out["wave"], pa.int32()),
            "url": pa.array(out["url"], pa.string()),
            "surt_key": pa.array(out["surt_key"], pa.string()),
            "host": pa.array(out["host"], pa.string()),
            "hops": pa.array(out["hops"], pa.int32()),
            "score": pa.array(out["score"], pa.float64()),
        }
    )


def generate_doc_goldens(documents_parquet: str) -> pa.Table:
    """Kernel-golden columns for the driver ``documents`` table: language-ID,
    simhash, minhash signature, fingerprint — computed sequentially with the
    frozen kernels so the distributed UDF path can be oracle-checked (the
    check is of Spark plumbing + determinism; kernel correctness is pinned by
    the pure-python unit matrices)."""
    from warc2zim_spark.kernels.sketches import minhash_signature, simhash64
    from warc2zim_spark.kernels.textstats import detect_language, rolling_fingerprint

    table = pq.read_table(documents_parquet, columns=["doc_id", "text"])
    ids = table.column("doc_id").to_pylist()
    texts = table.column("text").to_pylist()
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "lang_pred": pa.array([detect_language(t) for t in texts], pa.string()),
            "simhash": pa.array([simhash64(t) for t in texts], pa.int64()),
            "minhash_sig": pa.array(
                [minhash_signature(t) for t in texts], pa.list_(pa.int64())
            ),
            "fingerprint": pa.array(
                [rolling_fingerprint(t) for t in texts], pa.list_(pa.int64())
            ),
        }
    )


# --------------------------------------------------------------------------
# materialization
# --------------------------------------------------------------------------

def generate_js_goldens(records: pa.Table, pages: pa.Table) -> pa.Table:
    """Sequential C5 golden (same self-golden policy as rewrite_golden /
    text extraction — zimscraperlib's JsRewriter is unavailable, so the
    golden pins the frozen kernel's bytes + the DISTRIBUTED plumbing:
    classifier selection, module-flag join, seen-set membership)."""
    import hashlib as _hashlib

    from urllib.parse import urljoin as _urljoin

    from warc2zim_spark.kernels.htmlmeta import extract_meta
    from warc2zim_spark.kernels.jsrewrite import rewrite_js
    from warc2zim_spark.kernels.rewritemode import rewrite_mode
    from warc2zim_spark.kernels.surt import canonicalize

    # discovered module set: html <script type=module src> resolved+canonical
    module_set: set[str] = set()
    for url, html in zip(pages.column("url").to_pylist(),
                         pages.column("html").to_pylist()):
        text = html.decode("utf-8", errors="replace") if isinstance(html, bytes) else html
        for src in extract_meta(text)["js_modules"]:
            t = canonicalize(_urljoin(url, src))
            if t:
                module_set.add(t)

    cols = {c: records.column(c).to_pylist() for c in
            ("rec_type", "status", "mime", "resourcetype", "zim_path_g",
             "payload", "url", "req_method")}
    seen = {
        zp for zp, st, rt, pl in zip(cols["zim_path_g"], cols["status"],
                                     cols["rec_type"], cols["payload"])
        if zp and rt == "response" and st in (200, 201, 202, 203)
        and len(pl or b"") > 0
    }
    out_path, out_sha, out_mod = [], [], []
    for i in range(len(cols["rec_type"])):
        if cols["rec_type"][i] != "response" or not cols["zim_path_g"][i]:
            continue
        mode = rewrite_mode(
            cols["mime"][i], cols["resourcetype"][i], cols["url"][i],
            cols["zim_path_g"][i], cols["req_method"][i] or "GET",
        )
        if mode != "javascript":
            continue
        is_mod = cols["zim_path_g"][i] in module_set
        text = (cols["payload"][i] or b"").decode("utf-8", errors="replace")
        rw = rewrite_js(text, cols["url"][i], seen, is_module=is_mod)
        out_path.append(cols["zim_path_g"][i])
        out_sha.append(_hashlib.sha256(rw.encode("utf-8")).hexdigest())
        out_mod.append(is_mod)
    return pa.table(
        {
            "zim_path": pa.array(out_path, pa.string()),
            "js_rw_sha": pa.array(out_sha, pa.string()),
            "is_module": pa.array(out_mod, pa.bool_()),
        }
    )


def generate_icon_fixture(records: pa.Table) -> pa.Table:
    """(icon_url, icon_path, fmt, width, height) for the main page's icon
    candidates that have captured payloads — the SQL oracle re-derives the
    A9 ranking over these and must agree with the distributed
    best_illustration pick. Dim values come from the same stdlib sniffer the
    engine uses (pinned separately by tests/test_kernels_imagemeta-style
    unit cases); the RANKING re-derivation is the independent part."""
    from warc2zim_spark.kernels.htmlmeta import extract_meta
    from warc2zim_spark.kernels.imagemeta import image_dims
    from warc2zim_spark.kernels.surt import canonicalize

    cols = {c: records.column(c).to_pylist() for c in
            ("rec_type", "status", "mime", "payload", "url", "zim_path_g",
             "file_seq", "rec_seq")}
    n = len(cols["rec_type"])
    mp_idx = None
    for j in range(n):
        if (
            cols["rec_type"][j] == "response" and cols["status"][j] == 200
            and (cols["mime"][j] or "").split(";")[0] == "text/html"
            and len(cols["payload"][j] or b"") > 0
            and (cols["url"][j] or "").startswith(("http://", "https://"))
        ):
            mp_idx = j
            break
    out = {"icon_url": [], "icon_path": [], "fmt": [], "width": [], "height": []}
    if mp_idx is not None:
        mp_url = cols["url"][mp_idx]
        html = (cols["payload"][mp_idx] or b"").decode("utf-8", errors="replace")
        hrefs = extract_meta(html)["icons"] or ["/favicon.ico"]
        cand = {}
        for h in hrefs:
            u = urljoin(mp_url, h)
            if u.startswith(("http://", "https://")):
                p = canonicalize(u)
                if p:
                    cand[p] = u
        # last status-200 response per candidate path wins (dict overwrite,
        # converter.py:555)
        captured: dict[str, bytes] = {}
        for j in range(n):
            if (
                cols["rec_type"][j] == "response" and cols["status"][j] == 200
                and cols["zim_path_g"][j] in cand
            ):
                captured[cols["zim_path_g"][j]] = cols["payload"][j] or b""
        for p, payload in captured.items():
            fmt, w, h = image_dims(payload)
            if fmt == "SVG":
                w = h = 48
            if fmt is None or w is None:
                continue
            out["icon_url"].append(cand[p])
            out["icon_path"].append(p)
            out["fmt"].append(fmt)
            out["width"].append(w)
            out["height"].append(h)
    return pa.table(
        {
            "icon_url": pa.array(out["icon_url"], pa.string()),
            "icon_path": pa.array(out["icon_path"], pa.string()),
            "fmt": pa.array(out["fmt"], pa.string()),
            "width": pa.array(out["width"], pa.int32()),
            "height": pa.array(out["height"], pa.int32()),
        }
    )


def generate_media_fixture() -> pa.Table:
    """Multimodal fixture with INDEPENDENTLY-known dimensions: datagen
    constructs each container at a chosen size and records that size as the
    golden — the engine's stdlib header sniffer must parse it back from the
    bytes alone, so the oracle check is not self-golden. Covers PNG (real
    encoder), GIF (logical screen descriptor), ICO (directory entry), SVG
    (width/height attrs), and the empty payload (0×0)."""
    from warc2zim_spark.kernels.imagemeta import make_png

    rows: list[tuple[int, str, bytes, int, int]] = []
    mid = 0

    def add(payload: bytes, w: int, h: int) -> None:
        nonlocal mid
        rows.append((mid, "image", payload, w, h))
        mid += 1

    for size in (16, 32, 48, 96, 256):
        add(make_png(size), size, size)
    for w, h in ((120, 90), (640, 480)):
        gif = (
            b"GIF89a"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + b"\x00\x00\x00"  # no GCT, bg, aspect
        )
        add(gif, w, h)
    for w, h in ((32, 32), (48, 48)):
        wb = 0 if w == 256 else w
        hb = 0 if h == 256 else h
        ico = (
            b"\x00\x00\x01\x00\x01\x00"        # ICO header, 1 image
            + bytes([wb, hb, 0, 0])              # w, h, palette, reserved
            + b"\x01\x00\x20\x00"                # planes, bpp
            + (16).to_bytes(4, "little")         # data size
            + (22).to_bytes(4, "little")         # data offset
            + b"\x00" * 16
        )
        add(ico, w, h)
    for w, h in ((100, 50), (48, 48)):
        svg = (
            f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" '
            f'height="{h}"><rect width="{w}" height="{h}"/></svg>'
        ).encode("utf-8")
        add(svg, w, h)
    add(b"", 0, 0)
    return pa.table(
        {
            "media_id": pa.array([r[0] for r in rows], pa.int64()),
            "kind": pa.array([r[1] for r in rows], pa.string()),
            "payload": pa.array([r[2] for r in rows], pa.binary()),
            "n_bytes_g": pa.array([len(r[2]) for r in rows], pa.int64()),
            "width_g": pa.array([r[3] for r in rows], pa.int32()),
            "height_g": pa.array([r[4] for r in rows], pa.int32()),
        }
    )


def write_warc_files(records: pa.Table, out_dir) -> None:
    """Serialize the synthetic record table to real WARC/1.1 bytes, one file
    per file_seq (the last one gzip member-per-record to cover the .warc.gz
    path). The from-bytes ingest (sources/warcbytes.py) must reproduce the
    engine-consumed columns from these bytes alone — golden *_g columns are
    deliberately NOT serialized."""
    from warc2zim_spark.sources.warcbytes import records_to_warc_file

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    cols = [
        "file_seq", "rec_seq", "rec_type", "url", "warc_date", "record_id",
        "concurrent_to", "status", "mime", "resourcetype", "http_location",
        "refers_to_url", "payload", "http_charset", "req_method", "req_mime",
        "req_body", "req_content_length",
    ]
    data = {c: records.column(c).to_pylist() for c in cols}
    n = len(data["file_seq"])
    by_file: dict[int, list[dict]] = {}
    for i in range(n):
        row = {c: data[c][i] for c in cols}
        by_file.setdefault(int(row["file_seq"]), []).append(row)
    last = max(by_file)
    for fs, rows in by_file.items():
        rows.sort(key=lambda r: r["rec_seq"])
        gz = fs == last
        name = f"warc-{fs:05d}.warc" + (".gz" if gz else "")
        (out / name).write_bytes(records_to_warc_file(rows, compress=gz))


def webdata_dir(sf_name: str, root: str = "/root/repo/webdata") -> Path:
    return Path(root) / sf_name


# bump when fixture CONTENT changes so cached webdata dirs regenerate
# (goldens + oracles read the same regenerated parquet, so bumping is safe)
FIXTURE_VERSION = "v5"


def ensure_webdata(sf_name: str, root: str = "/root/repo/webdata") -> Path:
    """Generate (once per FIXTURE_VERSION) and return the webdata dir for a
    scale tier."""
    import shutil

    out = webdata_dir(sf_name, root)
    marker = out / "_COMPLETE"
    if marker.exists() and marker.read_text().strip() == FIXTURE_VERSION:
        return out
    if out.exists():
        shutil.rmtree(out)  # stale version or partial generation: start clean
    out.mkdir(parents=True, exist_ok=True)
    pages, golden = generate_pages(sf_name)
    records = generate_warc_records(pages)
    _write(pages, out / "pages.parquet")
    _write(golden, out / "pages_golden.parquet")
    _write(records, out / "warc_records.parquet")
    _write(generate_encoded_payloads(), out / "encoded_payloads.parquet")
    _write(generate_jsonp_cases(), out / "jsonp_cases.parquet")
    _write(generate_icon_fixture(records), out / "icons_fixture.parquet")
    _write(generate_media_fixture(), out / "media_fixture.parquet")
    _write(generate_seeds(golden), out / "seeds.parquet")
    _write(generate_robots(golden), out / "robots.parquet")
    testdata = Path("/root/testdata") / sf_name / "documents.parquet"
    if testdata.exists():
        _write(generate_doc_goldens(str(testdata)), out / "doc_golden.parquet")
    _write(
        sequential_crawl(pages, generate_robots(golden), generate_seeds(golden)),
        out / "golden_frontier.parquet",
    )
    if SCALE_PAGES.get(sf_name, 0) <= 2000:  # correctness tiers only
        _write(generate_rewrite_goldens(pages, golden), out / "rewrite_golden.parquet")
        _write(generate_js_goldens(records, pages), out / "js_golden.parquet")
        write_warc_files(records, out / "warc_files")
    marker.write_text(FIXTURE_VERSION)
    return out
