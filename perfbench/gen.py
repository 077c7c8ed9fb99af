"""Seeded input generator of the benchmark.

Each workload's generator returns an `Inputs`: the files graft is given
(segment records as TSV, parameters as JSON), the generator's own model of
those inputs (used to check every answer), the generator parameters and the
input properties it measured. The same seed gives byte-identical files and
so the same digest.
"""

import bisect
import hashlib
import json
import math
import random

# the pg-wire estate's nominal clock: the server shifts every timestamp by
# (its wall clock at launch − NOW_MS) and keeps its own live clock
NOW_MS = 1_700_086_460_000
T0_MS = 1_700_000_000_000
GOVERNOR_TTL_S = 10.0  # graft.gov.Guardrails defaults: 128 entries, 10 s
GOVERNOR_ENTRIES = 128


class Inputs:
    def __init__(self, files, params, model, generator, props):
        self.files = files
        self.params = params
        self.model = model
        self.generator = generator
        self.props = props

    def digest(self):
        h = hashlib.sha256()
        for name in sorted(self.files):
            h.update(name.encode())
            h.update(b"\0")
            h.update(self.files[name].encode())
            h.update(b"\0")
        h.update(json.dumps(self.params, sort_keys=True).encode())
        return h.hexdigest()


def rng(seed, stream):
    return random.Random(f"{seed}:{stream}")


def tsv(segments):
    """Segment records as the harness reads them: segment id, topic,
    partition, offset, ts_ms, key, value."""
    lines = []
    for seg_id, topic, partition, records in segments:
        for off, ts, key, value in records:
            lines.append(f"{seg_id}\t{topic}\t{partition}\t{off}\t{ts}\t{key}\t{value}")
    return "\n".join(lines) + "\n"


def chunk(records, size):
    return [records[i:i + size] for i in range(0, len(records), size)]


# ---- pgwire_kafsql --------------------------------------------------------

PG = dict(partitions=8, orders=48000, segment_records=500, order_gap_ms=1800,
          payment_share=0.4, payment_delay_ms=30 * 60_000,
          regions=["na", "eu", "apac", "latam", "mea"], clients=3,
          queries_per_client=4000, warmup_queries_per_client=60,
          repeats_per_deck=3, repeat_window=4, probes_per_template=5)

# template -> (weight, cacheable by the Governor); a deck of DECK queries
# holds each template weight * DECK times. "Cacheable" is graft's own
# classification (`Kafsql.governedRows`); the cache key also holds the
# resolved LAST bounds in ms, so on a live clock a repeat of a LAST text
# misses unless both land in the same millisecond.
DECK = 20
TEMPLATES = {
    "tail": (0.25, False),
    "last_count": (0.20, True),
    "offset_range": (0.20, False),
    "group_json": (0.15, True),
    "join": (0.10, True),
    "show_offsets": (0.10, False),
}
# templates with a LAST window, whose answer depends on the server's clock
LAST_TEMPLATES = ("last_count", "group_json", "join")


class Estate:
    """The generator's model of the orders/payments estate."""

    def __init__(self, orders, payments, partitions):
        self.partitions = partitions
        self.orders = orders      # partition -> [(offset, ts, id, region, amount)]
        self.payments = payments  # partition -> [(offset, ts, id, amount)]
        flat = sorted((o[1], o) for p in orders.values() for o in p)
        self.order_ts = [t for t, _ in flat]
        self.order_by_ts = [o for _, o in flat]
        self.part_of = {o[2]: p for p, rs in orders.items() for o in rs}
        self.pay_by_id = {}
        for p, rs in payments.items():
            for r in rs:
                self.pay_by_id.setdefault(r[2], []).append((p, r))
        self.memo = {}
        # per region: running count and amount over orders in time order
        self.prefix = {}
        for region in {o[3] for o in self.order_by_ts}:
            n = total = 0
            acc = [(0, 0)]
            for o in self.order_by_ts:
                if o[3] == region:
                    n, total = n + 1, total + o[4]
                acc.append((n, total))
            self.prefix[region] = acc

    def bounds(self, seconds, now):
        """Index range of the orders a `LAST seconds` window holds at `now`:
        [now − seconds, now], both ends inclusive, as graft's planner has it."""
        return (bisect.bisect_left(self.order_ts, now - seconds * 1000),
                bisect.bisect_right(self.order_ts, now))

    def window(self, seconds, now):
        lo, hi = self.bounds(seconds, now)
        return self.order_by_ts[lo:hi]

    def nows(self, seconds, a, b):
        """Clock readings in [a, b] (ms) at which a `LAST seconds` window
        can hold a different set of orders: `a` and every instant one of
        the window's ends passes an order. Together they give every answer
        the server may send for a query it received between a and b."""
        w = seconds * 1000
        out = {a}
        ts = self.order_ts
        i = bisect.bisect_left(ts, a - w)
        while i < len(ts) and ts[i] + w + 1 <= b:
            out.add(ts[i] + w + 1)  # the order leaves the window
            i += 1
        j = bisect.bisect_left(ts, a)
        while j < len(ts) and ts[j] <= b:
            out.add(ts[j])  # the order enters the window
            j += 1
        return sorted(out)

    def answers(self, template, args, a, b):
        """Every answer the server may send for a query it received while
        its clock (in the estate's frame) read between a and b."""
        if template not in LAST_TEMPLATES:
            return [self.answer(template, args)]
        seconds = args[0] * 60 if template == "join" else args[0]
        return [self.answer(template, args, now) for now in self.nows(seconds, a, b)]

    def answer(self, template, args, now=NOW_MS):
        """Expected rows at clock reading `now`, each a tuple of the strings
        pg-wire sends, as a sorted list (the check compares multisets)."""
        key = (template, args,
               self.bounds(args[0] * 60 if template == "join" else args[0], now)
               if template in LAST_TEMPLATES else None)
        if key in self.memo:
            return self.memo[key]
        if template == "tail":
            p, n = args
            rows = [(str(p), str(o[0]), str(o[2])) for o in self.orders[p][-n:]]
        elif template == "last_count":
            lo, hi = self.bounds(args[0], now)
            rows = [(str(hi - lo),)]
        elif template == "offset_range":
            p, a, b = args
            rows = [(str(o[0]), str(o[2])) for o in self.orders[p] if a <= o[0] <= b]
        elif template == "group_json":
            lo, hi = self.bounds(args[0], now)
            rows = []
            for region, acc in self.prefix.items():
                n, total = acc[hi][0] - acc[lo][0], acc[hi][1] - acc[lo][1]
                if n:
                    rows.append((region, str(n), float(total)))
        elif template == "join":
            minutes, within = args
            rows = []
            for o in self.window(minutes * 60, now):
                for pp, pay in self.pay_by_id.get(o[2], ()):
                    if abs(o[1] - pay[1]) <= within * 60_000:
                        rows.append((str(self.part_of[o[2]]), str(o[0]),
                                     str(pp), str(pay[0])))
        elif template == "show_offsets":
            topic = self.orders if args[0] == "orders" else self.payments
            rows = [(str(p), "0", str(len(topic[p]))) for p in range(self.partitions)]
        else:
            raise ValueError(template)
        rows = sorted(rows)
        self.memo[key] = rows
        return rows


def render(template, args):
    if template == "tail":
        p, n = args
        return f"SELECT _partition, _offset, id FROM orders WHERE _partition = {p} TAIL {n}"
    if template == "last_count":
        return f"SELECT COUNT(*) AS n FROM orders LAST {args[0]}s"
    if template == "offset_range":
        p, a, b = args
        return (f"SELECT _offset, id FROM orders WHERE _partition = {p} "
                f"AND _offset >= {a} AND _offset <= {b} SCAN FULL")
    if template == "group_json":
        return (f"SELECT region, COUNT(*) AS n, SUM(amount) AS total FROM orders "
                f"GROUP BY region LAST {args[0]}s")
    if template == "join":
        minutes, within = args
        return (f"SELECT o._partition, o._offset, p._partition, p._offset "
                f"FROM orders o JOIN payments p WITHIN {within}m LAST {minutes}m")
    if template == "show_offsets":
        return f"SHOW OFFSETS FROM {args[0]}"
    raise ValueError(template)


class Strata:
    """Stratified uniform draws: each run of `n` draws takes one value from
    each of n equal slices of [0, 1), in shuffled order. The size
    parameters of a stream then cover their range evenly, so the cost of a
    stretch of queries varies little from seed to seed."""

    def __init__(self, r, n=20):
        self.r, self.n, self.left = r, n, []

    def __call__(self):
        if not self.left:
            self.left = list(range(self.n))
            self.r.shuffle(self.left)
        return (self.left.pop() + self.r.random()) / self.n


def draw_args(r, t, per_partition, kind, u=None):
    """Parameters of one query; `u` in [0, 1) picks its size (the window,
    span or row count). Cacheable templates draw from large pools, so a
    text recurs by chance only rarely; the measured stream ("run"), warm-up
    ("warm") and probe ("probe") texts use disjoint values, so neither
    warm-up nor the stream pre-fills the cache for the next."""
    u = r.random() if u is None else u
    if t == "tail":
        return (r.randrange(PG["partitions"]), [1, 5, 10, 20, 50][int(u * 5)])
    if t == "offset_range":
        a = r.randrange(per_partition - 300)
        return (r.randrange(PG["partitions"]), a, a + [50, 100, 200, 300][int(u * 4)])
    if t == "show_offsets":
        return (["orders", "payments"][int(u * 2)],)
    if t in ("last_count", "group_json"):
        # windows in seconds: whole minutes up to 6 h for the run, the
        # others split between warm-up and probes
        if kind == "run":
            return (60 * (1 + int(u * 360)),)
        pool = WARM_WINDOWS_S[kind == "probe"::2]
        return (pool[int(u * len(pool))],)
    if t == "join":
        if kind == "run":
            return (5 + int(u * 16), r.randint(1, 10))
        if kind == "warm":
            return (21 + int(u * 20), r.randint(1, 4))
        return (41 + int(u * 20), r.randint(1, 4))
    raise ValueError(t)


WARM_WINDOWS_S = [x for x in range(61, 6 * 3600, 7) if x % 60]


def query_stream(r, count, per_partition, kind, repeats=0):
    """`count` queries (template, args), dealt in shuffled decks that hold
    each template exactly in proportion to its weight, so every stretch of
    the stream has the same mix. In each deck, `repeats` of the cacheable
    slots re-send one of the last few texts of that template (a dashboard
    refresh): a repeat well within the Governor's TTL."""
    deck = [t for t, (w, _) in TEMPLATES.items() for _ in range(round(w * DECK))]
    sizes = {t: Strata(r) for t in TEMPLATES}
    out, recent = [], {t: [] for t in TEMPLATES}
    while len(out) < count:
        r.shuffle(deck)
        cacheable = [i for i, t in enumerate(deck) if TEMPLATES[t][1]]
        again = set(r.sample(cacheable, repeats))
        for i, t in enumerate(deck):
            if i in again and recent[t]:
                out.append(r.choice(recent[t]))
                continue
            q = (t, draw_args(r, t, per_partition, kind, sizes[t]()))
            out.append(q)
            recent[t] = (recent[t] + [q])[-PG["repeat_window"]:]
    return out[:count]


def pgwire(seed, seconds):
    r = rng(seed, "estate")
    parts = PG["partitions"]
    orders = {p: [] for p in range(parts)}
    payments_raw = {p: [] for p in range(parts)}
    for n in range(PG["orders"]):
        p = n % parts
        ts = T0_MS + n * PG["order_gap_ms"] + r.randrange(1000)
        orders[p].append((len(orders[p]), ts, n, r.choice(PG["regions"]),
                          r.randint(1, 100) * 10))
        if r.random() < PG["payment_share"]:
            payments_raw[p].append((ts + r.randrange(PG["payment_delay_ms"]), n,
                                    r.randint(1, 100) * 10))
    payments = {p: [(i, ts, n, amt) for i, (ts, n, amt) in enumerate(sorted(rs))]
                for p, rs in payments_raw.items()}
    segments = []
    for topic, data in (("orders", orders), ("payments", payments)):
        for p in range(parts):
            recs = []
            for row in data[p]:
                if topic == "orders":
                    off, ts, n, region, amount = row
                    value = f'{{"id":{n},"region":"{region}","amount":{amount}}}'
                else:
                    off, ts, n, amount = row
                    value = f'{{"id":{n},"amount":{amount}}}'
                recs.append((off, ts, f"order-{n:06d}", value))
            for c in chunk(recs, PG["segment_records"]):
                segments.append((len(segments), topic, p, c))
    estate = Estate(orders, payments, parts)
    per_partition = PG["orders"] // parts

    clients = [query_stream(rng(seed, f"client{c}"), PG["queries_per_client"],
                            per_partition, "run", PG["repeats_per_deck"])
               for c in range(PG["clients"])]
    warmup = [query_stream(rng(seed, f"warmup{c}"), PG["warmup_queries_per_client"],
                           per_partition, "warm")
              for c in range(PG["clients"])]
    pr = rng(seed, "probes")
    probes = []
    for t in TEMPLATES:
        mine = []
        while len(mine) < PG["probes_per_template"]:
            q = (t, draw_args(pr, t, per_partition, "probe"))
            if q not in mine or not TEMPLATES[t][1]:  # cacheable ones must miss
                mine.append(q)
        probes += mine
    files = {
        "estate.tsv": tsv(segments),
        "queries.txt": "\n".join(render(*q) for c in clients for q in c) + "\n",
        "probes.tsv": "\n".join(f"{t}\t{render(t, a)}" for t, a in probes) + "\n",
    }
    params = {"now_ms": NOW_MS, "partitions": parts}
    n_records = sum(len(s[3]) for s in segments)
    props = {
        "records": n_records,
        "segments": len(segments),
        "estate_value_bytes": sum(len(v) + len(k) for s in segments for _, _, k, v in s[3]),
        "template_mix": {t: w for t, (w, _) in TEMPLATES.items()},
    }
    model = {"estate": estate, "clients": clients, "warmup": warmup, "probes": probes}
    return Inputs(files, params, model, dict(PG), props)


# ---- ingest_upsert --------------------------------------------------------

ING = dict(partitions=4, keys_per_partition=400, key_skew=3.0,
           segment_records=200, backlog_segments_per_partition=20,
           rate_segments_per_s=3.0, max_segments_per_trigger=4,
           compact_every=4, maintain_every=3, read_every_s=0.5,
           read_keys_per_partition=5, warmup_segments_per_partition=6)


def upsert_log(r, segments_per_partition, first_id=0, state=None):
    """Segments of the `events` topic, round-robin over partitions, with
    skewed keys; `state` (next offsets, record sequence) carries on from an
    earlier call so a stream can continue a backlog."""
    parts = ING["partitions"]
    state = state if state is not None else {"next": [0] * parts, "seq": 0}
    out = []
    for _ in range(segments_per_partition):
        for p in range(parts):
            recs = []
            for _ in range(ING["segment_records"]):
                k = int(ING["keys_per_partition"] * r.random() ** ING["key_skew"])
                s = state["seq"]
                state["seq"] += 1
                recs.append((state["next"][p], T0_MS + s * 10, f"p{p}-k{k:04d}",
                             f'{{"k":{k},"seq":{s}}}'))
                state["next"][p] += 1
            out.append((first_id + len(out), "events", p, recs))
    return out, state


def ingest(seed, seconds):
    parts = ING["partitions"]
    r = rng(seed, "ingest")
    backlog, state = upsert_log(r, ING["backlog_segments_per_partition"])
    per_partition = int(math.ceil(ING["rate_segments_per_s"] * seconds / parts)) + 1
    stream, _ = upsert_log(r, per_partition, len(backlog), state)
    # warm-up topic: the same shapes, half the backlog, drained before timing
    warm, _ = upsert_log(rng(seed, "ingest-warmup"), ING["warmup_segments_per_partition"])
    # the hottest keys of each partition are the reader's fixed key set
    read_keys = [f"p{p}-k{k:04d}" for p in range(parts)
                 for k in range(ING["read_keys_per_partition"])]
    files = {"backlog.tsv": tsv(backlog), "stream.tsv": tsv(stream),
             "warmup.tsv": tsv(warm)}
    params = {k: ING[k] for k in ("rate_segments_per_s", "max_segments_per_trigger",
                                  "compact_every", "maintain_every", "read_every_s")}
    params["read_keys"] = read_keys
    all_records = [(s[2], rec) for s in backlog + stream for rec in s[3]]
    seen, reused = set(), 0
    for p, rec in all_records:
        if rec[2] in seen:
            reused += 1
        seen.add(rec[2])
    props = {
        "backlog_records": sum(len(s[3]) for s in backlog),
        "stream_segments_available": len(stream),
        "key_reuse_share": reused / len(all_records),
        "distinct_keys": len(seen),
        "input_bytes": sum(len(k) + len(v) for _, (o, t, k, v) in all_records),
    }
    model = {"backlog": backlog, "stream": stream, "read_keys": read_keys}
    return Inputs(files, params, model, dict(ING), props)


# ---- curation_dedup -------------------------------------------------------

CUR = dict(docs=6000, vocabulary=20000, min_words=40, max_words=120,
           exact_share=0.05, near_share=0.10, near_edit_share=0.08,
           partitions=2, segment_records=250, threshold=0.5, min_jobs=3,
           warmup_jobs=8)


def shingles(text, n=3):
    """Distinct word 3-grams, as graft's shingler defines them."""
    w = text.split(" ")
    if len(w) < n:
        return frozenset()
    return frozenset(" ".join(w[i:i + n]) for i in range(len(w) - n + 1))


def jaccard(a, b):
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def corpus(r, n_docs, exact_share, near_share):
    vocab = []
    while len(vocab) < CUR["vocabulary"]:
        vocab.append("".join(r.choice("abcdefghijklmnopqrstuvwxyz")
                             for _ in range(r.randint(3, 9))))
    docs, exact, near, used = [], [], [], set()
    for i in range(n_docs):
        u = r.random()
        free = [j for j in range(max(0, i - 200), i) if j not in used
                and docs[j][1] == "orig"]
        if free and u < exact_share:
            src = r.choice(free)
            used.add(src)
            docs.append((docs[src][0], "exact"))
            exact.append((src, i))
        elif free and u < exact_share + near_share:
            src = r.choice(free)
            used.add(src)
            words = docs[src][0].split(" ")
            for _ in range(max(1, int(len(words) * CUR["near_edit_share"]))):
                words[r.randrange(len(words))] = r.choice(vocab)
            docs.append((" ".join(words), "near"))
            near.append((src, i))
        else:
            n = r.randint(CUR["min_words"], CUR["max_words"])
            docs.append((" ".join(r.choice(vocab) for _ in range(n)), "orig"))
    return [d[0] for d in docs], exact, near


def doc_segments(texts, topic="docs"):
    parts = CUR["partitions"]
    per = {p: [] for p in range(parts)}
    for i, text in enumerate(texts):
        p = i % parts
        per[p].append((len(per[p]), T0_MS + i, str(i), text))
    segs = []
    for p in range(parts):
        for c in chunk(per[p], CUR["segment_records"]):
            segs.append((len(segs), topic, p, c))
    return segs


def curation(seed, seconds):
    texts, exact, near = corpus(rng(seed, "corpus"), CUR["docs"],
                                CUR["exact_share"], CUR["near_share"])
    warm, _, _ = corpus(rng(seed, "corpus-warmup"), CUR["docs"],
                        CUR["exact_share"], CUR["near_share"])
    files = {"docs.tsv": tsv(doc_segments(texts)),
             "warmup.tsv": tsv(doc_segments(warm))}
    params = {k: CUR[k] for k in ("threshold", "min_jobs", "warmup_jobs")}
    sh = [shingles(t) for t in texts]
    props = {
        "docs": len(texts),
        "planted_exact_share": len(exact) / len(texts),
        "planted_near_share": len(near) / len(texts),
        "planted_near_jaccard_min": min((jaccard(sh[a], sh[b]) for a, b in near),
                                        default=0.0),
        "corpus_text_bytes": sum(len(t.encode()) for t in texts),
    }
    model = {"texts": texts, "shingles": sh, "exact": exact, "near": near}
    return Inputs(files, params, model, dict(CUR), props)


GENERATORS = {"pgwire_kafsql": pgwire, "ingest_upsert": ingest,
              "curation_dedup": curation}


def generate(workload, seed, seconds):
    return GENERATORS[workload](seed, seconds)
