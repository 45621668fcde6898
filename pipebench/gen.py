"""Seeded input generators and output oracles for the three workloads.

Every generator writes plain files (CSV/JSON-lines drops or WARC shards)
under a directory and returns the outcome the program must produce,
computed here independently of the program. The same seed gives
byte-identical files: all randomness comes from one `random.Random(seed)`
per workload and nothing reads the clock.
"""

import json
import os
import random

STOPWORDS = ["the", "and", "of", "to", "in", "is", "with", "for", "on", "that"]
SYLLABLES = ["ka", "lo", "mi", "ren", "sto", "va", "dur", "pel", "qui", "zan",
             "ber", "tol", "fin", "gra", "mo", "sel", "tur", "wex", "yal", "cor"]


def vocabulary(rng, n=3000):
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def sentence_text(rng, vocab, n_words):
    """Prose-like text: vocabulary words with a stopword every few words,
    sentences ended by a period. Passes the curation quality gate."""
    out = []
    for i in range(n_words):
        out.append(rng.choice(STOPWORDS) if i % 4 == 1 else rng.choice(vocab))
        if i % 12 == 11:
            out[-1] += "."
    return " ".join(out) + "."


# --------------------------------------------------------------- etl_drops

ETL_COLS = ["Order ID", "Order Date", "Customer ID", "Product", "QUANTITY",
            " Unit Price ", "Region"]
PRODUCTS = ["widget", "gadget", "sprocket", "gizmo", "doohickey", "thingamajig"]
REGIONS = ["north", "south", "east", "west"]


def etl_variant(batch):
    """Schema drift across drops: every fourth batch adds a column, the one
    after it drops one; CSV/JSON type conflicts are in every batch."""
    cols = list(ETL_COLS)
    if batch % 4 == 1:
        cols.append("Coupon Code")
    elif batch % 4 == 2:
        cols.remove("Region")
    return cols


def gen_etl(seed, root, n_batches, files=5, rows=1000):
    """`n_batches` drop directories `batch-NNNN` of CSV and JSON-lines
    files with dirty headers, ~2% null cells, ~1% exact-duplicate rows.
    JSON files carry `Customer ID` as a string and `Order Date` as text
    (CSV infers int and timestamp), so each batch takes the string-cast
    path of the batch reader. Returns, per batch, the rows the load must
    keep and the per-day order count, quantity and revenue in cents."""
    rng = random.Random(seed)
    batches = []
    order_id = 0
    for b in range(n_batches):
        bdir = os.path.join(root, "batch-%04d" % b)
        os.makedirs(bdir)
        cols = etl_variant(b)
        kept = 0
        n_in = 0
        days = {}
        for f in range(files):
            is_json = f >= files - 2
            recs = []
            for _ in range(rows):
                order_id += 1
                day = rng.randrange(60)
                month, dom = (1, day + 1) if day < 31 else (2, day - 30)
                qty = rng.randint(1, 20)
                cents = rng.randint(100, 50000)
                rec = {
                    "Order ID": order_id,
                    "Order Date": "2024-%02d-%02d %02d:%02d:00" % (
                        month, dom, rng.randrange(24), rng.randrange(60)),
                    "Customer ID": ("C-%05d" % rng.randrange(5000)) if is_json
                    else rng.randrange(1, 5000),
                    "Product": rng.choice(PRODUCTS),
                    "QUANTITY": qty,
                    " Unit Price ": "%d.%02d" % divmod(cents, 100),
                    "Region": rng.choice(REGIONS),
                    "Coupon Code": "SAVE%d" % rng.randrange(1, 50),
                }
                rec = {c: rec[c] for c in cols}
                if rng.random() < 0.02:
                    rec[rng.choice(cols)] = None
                recs.append(rec)
                if rng.random() < 0.01:
                    recs.append(dict(rec))
            n_in += len(recs)
            seen = set()
            for rec in recs:
                key = tuple(rec[c] for c in cols)
                if None in key or key in seen:
                    continue
                seen.add(key)
                kept += 1
                d = rec["Order Date"][:10]
                cnt, qty, rev = days.get(d, (0, 0, 0))
                p = rec[" Unit Price "]
                pc = int(p.replace(".", ""))
                days[d] = (cnt + 1, qty + rec["QUANTITY"], rev + rec["QUANTITY"] * pc)
            path = os.path.join(bdir, "part-%02d.%s" % (f, "jsonl" if is_json else "csv"))
            with open(path, "w", newline="") as out:
                if is_json:
                    for rec in recs:
                        row = {c: (float(v) if c == " Unit Price " and v is not None else v)
                               for c, v in rec.items()}
                        out.write(json.dumps(row, sort_keys=False) + "\n")
                else:
                    out.write(",".join(cols) + "\n")
                    for rec in recs:
                        out.write(",".join("" if rec[c] is None else str(rec[c])
                                           for c in cols) + "\n")
        batches.append({"dir": bdir, "records": n_in, "rows_loaded": kept,
                        "bytes": sum(os.path.getsize(os.path.join(bdir, f))
                                     for f in os.listdir(bdir)),
                        "days": {d: list(v) for d, v in sorted(days.items())}})
    return {"batches": batches}


def etl_expected_gold(batches, upto):
    """Per-day [order_count, total_quantity, revenue_cents] over loads 0..upto."""
    acc = {}
    for b in batches[:upto + 1]:
        for d, (c, q, r) in b["days"].items():
            a = acc.get(d, [0, 0, 0])
            acc[d] = [a[0] + c, a[1] + q, a[2] + r]
    return acc


# ------------------------------------------------------------ crawl_drains

BLOCKED_DOMAIN = "tracker.net"
SEEDED_HOSTS = ["site%02d.example.org" % i for i in range(0, 8)]
FETCHED_HOSTS = ["site%02d.example.org" % i for i in range(8, 16)]
PLAIN_HOSTS = ["site%02d.example.org" % i for i in range(16, 32)]
ALL_HOSTS = SEEDED_HOSTS + FETCHED_HOSTS + PLAIN_HOSTS
SEEDED_RULES = "User-agent: *\nDisallow: /private\n"
FETCHED_RULES = "User-agent: *\nDisallow: /members\n"


def warc_record(out, warc_type, rec_id, uri, payload):
    head = ("WARC/1.0\r\nWARC-Type: %s\r\nWARC-Record-ID: %s\r\n"
            "WARC-Date: 2026-01-01T00:00:00Z\r\nWARC-Target-URI: %s\r\n"
            "Content-Type: application/http;msgtype=response\r\n"
            "Content-Length: %d\r\n\r\n") % (warc_type, rec_id, uri, len(payload))
    out.write(head.encode("utf-8"))
    out.write(payload)
    out.write(b"\r\n\r\n")


def http_ok(body, content_type="text/html; charset=utf-8"):
    b = body.encode("utf-8")
    return ("HTTP/1.1 200 OK\r\nContent-Type: %s\r\nContent-Length: %d\r\n\r\n"
            % (content_type, len(b))).encode("utf-8") + b


def http_redirect(location):
    b = b"<html><body>Moved Permanently</body></html>"
    return ("HTTP/1.1 301 Moved Permanently\r\nLocation: %s\r\n"
            "Content-Type: text/html\r\nContent-Length: %d\r\n\r\n"
            % (location, len(b))).encode("utf-8") + b


def html_page(text, links):
    """Outlinks ride a link-dense nav block (extraction drops it, discovery
    reads it); the text is the page's one paragraph."""
    nav = "".join('<a href="%s">x</a> ' % l for l in links)
    return ("<html><head><title>page</title></head><body><nav>%s</nav>"
            "<p>%s</p></body></html>" % (nav, text))


def zipf_host(rng, weights):
    return rng.choices(ALL_HOSTS, weights=weights)[0]


def gen_crawl(seed, root, n_drops, pages=200):
    """`n_drops` WARC shards `shard-NNNNN.warc` (one per invocation) plus
    `robots.jsonl`, the robots seed (host, body). Every drop has the same
    mix: ~68% new pages, 8% changed and 8% unchanged re-crawls of pages
    ingested earlier, 5% pages on a blocked domain, 5% pages under a
    robots-disallowed path, 6% redirects; outlinks pick hosts with Zipf
    skew and include blocked and disallowed targets. Drop 0 also carries
    robots.txt fetches for the self-hosted-robots hosts. Returns per drop
    the counts the drain ledger must show."""
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    weights = [1.0 / (i + 1) for i in range(len(ALL_HOSTS))]
    os.makedirs(root)
    with open(os.path.join(root, "robots.jsonl"), "w") as f:
        for h in SEEDED_HOSTS:
            f.write(json.dumps({"host": h, "body": SEEDED_RULES}) + "\n")
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    latest = {}   # ingestable url -> latest page body it was fetched with
    drops = []
    new_links = 0
    for d in range(n_drops):
        recs = []   # (warc_type, uri, payload)
        exp = {"records": 0, "n_batch": 0, "blocked": 0, "disallowed": 0,
               "unchanged": 0}
        if d == 0:
            for h in FETCHED_HOSTS:
                recs.append(("response", "http://%s/robots.txt" % h,
                             http_ok(FETCHED_RULES, "text/plain")))
        earlier = sorted(latest)
        rng.shuffle(earlier)
        n_recrawl = int(pages * 0.08) if d > 0 else 0
        changed, unchanged = earlier[:n_recrawl], earlier[n_recrawl:2 * n_recrawl]
        kinds = (["changed"] * len(changed) + ["unchanged"] * len(unchanged) +
                 ["blocked"] * int(pages * 0.05) + ["disallowed"] * int(pages * 0.05) +
                 ["redirect"] * int(pages * 0.06))
        kinds += ["new"] * (pages - len(kinds))
        rng.shuffle(kinds)
        ci = ui = 0
        for i, kind in enumerate(kinds):
            links = []
            for _ in range(rng.randint(3, 8)):
                r = rng.random()
                if r < 0.1:
                    links.append("http://ads.%s/z/%d" % (BLOCKED_DOMAIN, rng.randrange(10 ** 6)))
                elif r < 0.2:
                    links.append("http://%s/private/%d" % (rng.choice(SEEDED_HOSTS),
                                                           rng.randrange(10 ** 6)))
                else:
                    new_links += 1
                    links.append("http://%s/l/%d" % (zipf_host(rng, weights), new_links))
            if kind == "new":
                uri = "http://%s/p/%d/%d" % (zipf_host(rng, weights), d, i)
                body = html_page(sentence_text(rng, vocab, rng.randint(40, 90)), links)
                latest[uri] = body
            elif kind == "changed":
                uri = changed[ci]
                ci += 1
                body = html_page(sentence_text(rng, vocab, rng.randint(40, 90)), links)
                latest[uri] = body
            elif kind == "unchanged":
                uri = unchanged[ui]
                ui += 1
                body = latest[uri]
                exp["unchanged"] += 1
            elif kind == "blocked":
                uri = "http://ads.%s/p/%d/%d" % (BLOCKED_DOMAIN, d, i)
                body = html_page(sentence_text(rng, vocab, 40), links)
                exp["blocked"] += 1
            elif kind == "disallowed":
                if d > 0 and rng.random() < 0.5:
                    uri = "http://%s/members/%d/%d" % (rng.choice(FETCHED_HOSTS), d, i)
                else:
                    uri = "http://%s/private/%d/%d" % (rng.choice(SEEDED_HOSTS), d, i)
                body = html_page(sentence_text(rng, vocab, 40), links)
                exp["disallowed"] += 1
            else:
                host = zipf_host(rng, weights)
                recs.append(("response", "http://%s/old/%d/%d" % (host, d, i),
                             http_redirect("http://%s/moved/%d/%d" % (host, d, i))))
                continue
            exp["n_batch"] += 1
            recs.append(("response", uri, http_ok(body)))
        path = os.path.join(stage, "shard-%05d.warc" % d)
        with open(path, "wb") as out:
            for j, (t, uri, payload) in enumerate(recs):
                warc_record(out, t, "<urn:bench:crawl:%d:%d>" % (d, j), uri, payload)
        exp["records"] = len(recs)
        exp["bytes"] = os.path.getsize(path)
        drops.append(exp)
    return {"stage": stage, "robots": os.path.join(root, "robots.jsonl"),
            "blocked_domain": BLOCKED_DOMAIN,
            "disallowed": {h: "/private" for h in SEEDED_HOSTS} |
            {h: "/members" for h in FETCHED_HOSTS},
            "drops": drops}


def frontier_violations(targets, exp):
    """Frontier targets that a gate should have kept out."""
    bad = []
    for t in targets:
        rest = t.split("://", 1)[-1]
        host, _, path = rest.partition("/")
        host = host.lower()
        if host == exp["blocked_domain"] or host.endswith("." + exp["blocked_domain"]):
            bad.append(t)
        elif host in exp["disallowed"] and ("/" + path).startswith(exp["disallowed"][host]):
            bad.append(t)
    return bad


# ----------------------------------------------------------- curate_corpus

BOILERPLATE_NAV = "".join('<a href="/section/%d">Section %d</a> ' % (i, i) for i in range(12))
BOILERPLATE_FOOT = ("<footer><a href='/about'>About</a> <a href='/terms'>Terms</a> "
                    "<a href='/privacy'>Privacy</a></footer>")
JUNK = ["!!! ??? ### $$$ %%% &&& *** @@@", "$$$ >>> <<< ||| ~~~ ^^^ +++",
        "??? ... !!! ,,, ;;; ::: ### ***"]


def curate_page(text):
    return ("<html><head><title>doc</title></head><body><nav>%s</nav>"
            "<p>%s</p>%s</body></html>" % (BOILERPLATE_NAV, text, BOILERPLATE_FOOT))


def gen_curate(seed, root, docs=4000, shards=8):
    """One WARC crawl directory of `shards` shards: unique prose documents
    wrapped in boilerplate HTML (a link-dense nav and footer), plus ~6%
    byte-identical copies (planted exact duplicates), ~6% near-duplicates
    (a few words edited) and ~5% junk that fails the quality gate.
    Returns the planted counts the curation report must show."""
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    n_exact, n_near, n_junk = int(docs * 0.06), int(docs * 0.06), int(docs * 0.05)
    n_unique = docs - n_exact - n_near - n_junk
    # a fixed multiset of lengths, shuffled: every seed carries the same volume
    lengths = [80 + (k * 37) % 121 for k in range(n_unique)]
    rng.shuffle(lengths)
    texts = [sentence_text(rng, vocab, n) for n in lengths]
    for _ in range(n_exact):
        texts.append(texts[rng.randrange(n_unique)])
    for _ in range(n_near):
        words = texts[rng.randrange(n_unique)].split(" ")
        for _ in range(3):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        texts.append(" ".join(words))
    good = len(texts)
    for _ in range(n_junk):
        texts.append(rng.choice(JUNK))
    bodies = [curate_page(t) for t in texts]
    order = list(range(len(bodies)))
    rng.shuffle(order)
    os.makedirs(root)
    outs = [open(os.path.join(root, "shard-%05d.warc" % s), "wb") for s in range(shards)]
    try:
        for pos, k in enumerate(order):
            warc_record(outs[pos % shards], "response", "<urn:bench:doc:%d>" % pos,
                        "http://docs%d.example.com/d/%d" % (pos % 50, pos),
                        http_ok(bodies[k]))
    finally:
        for o in outs:
            o.close()
    return {"dir": root, "records": len(bodies),
            "bytes": sum(os.path.getsize(os.path.join(root, f)) for f in os.listdir(root)),
            "input_docs": len(bodies),
            "after_quality": good,
            "after_exact_dedup": len(set(texts[:good]))}
