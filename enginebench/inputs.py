"""Inputs of each workload, made from the seed, and the answers a
correct engine gives on them. `make(workload, seed, run_dir, tiny)`
writes the files the JVM reads (`input.json`, data, batches) and
returns the expectations the checker compares against.
"""
import json
import math
import random
import urllib.parse
from pathlib import Path

import dockets
import tables

# the catalog entries: every CATALOG_EVERY-th of all entries by name
# (Catalog.pick), whatever their speed
CATALOG_EVERY = 18
CATALOG_WARMUP_ROUNDS = 1
CATALOG_SF = 0.1

# pipeline: a base store, then rounds of one batch each
PIPELINE = {"base": 200, "batch": 40, "forget": 2, "readbacks": 6}
PIPELINE_TINY = {"base": 30, "batch": 12, "forget": 1, "readbacks": 1}
# a round has never taken less than this on a 4-core machine (it takes
# about 30 s there), so a run of S seconds can reach ceil(S / this)
# rounds, and only those are generated
PIPELINE_ROUND_FLOOR_S = 10
TERM_ZIPF_S = 1.0        # read-back words and phrases


def chunk_count(text, size=1200, overlap=200):
    """Chunks the engine's RAG chunker cuts from `text`."""
    n, i, chunks = len(text), 0, 0
    while i < n:
        end = min(n, i + size)
        if text[i:end].strip():
            chunks += 1
        if end == n:
            break
        i += size - overlap
    return chunks


def first_chunk(text, size=1200):
    return text[:size].strip()


def write_batch(path, records):
    Path(path).write_text(json.dumps(records, ensure_ascii=False))
    return Path(path).stat().st_size


def zipf_pick(rng, items, s):
    return rng.choices(items, dockets.zipf_weights(len(items), s))[0]


def make(workload, seed, run_dir, seconds, tiny=False):
    run_dir = Path(run_dir)
    run_dir.mkdir(parents=True, exist_ok=True)
    return {"catalog": catalog, "pipeline": pipeline}[workload](seed, run_dir, seconds, tiny)


# ---------------------------------------------------------------- catalog
def catalog(seed, run_dir, seconds, tiny):
    data = run_dir / "data"
    data.mkdir(exist_ok=True)
    tables.write(str(data), seed, sf=0.01 if tiny else CATALOG_SF)
    (run_dir / "input.json").write_text(json.dumps(
        {"data_dir": str(data), "every": CATALOG_EVERY, **({"limit": 2} if tiny else {}),
         "warmup_rounds": 1 if tiny else CATALOG_WARMUP_ROUNDS}))
    return {"data_dir": str(data)}


# --------------------------------------------------------------- pipeline
def http(kind, method, path, body=None, args=None):
    return {"op": kind, "method": method, "path": path,
            "body": json.dumps(body) if body is not None else "",
            "args": args if args is not None else body}


def readbacks(corpus, rng, picks):
    """HTTP read-backs of new dockets over every route, with the answer
    each must give: a planted unique term finds exactly its case, a
    docket's own first chunk ranks it first, listings equal the model."""
    out = []
    for cn in picks:
        c = corpus.live[cn]
        chunk = first_chunk(c.text)
        out += [
            (http("get_case", "GET", "/cases/" + urllib.parse.quote(cn, safe=""),
                  args={"cn": cn}), {"detail": c.expected_detail()}),
            (http("keyword", "POST", "/search/keyword", {"terms": [c.uid], "limit": 10}),
             {"exactly": [cn]}),
            (http("bm25", "POST", "/search/bm25", {"terms": [c.uid], "limit": 10}),
             {"exactly": [cn]}),
            (http("search_dockets", "POST", "/cases/search", {"query": chunk, "limit": 5}),
             {"first": cn}),
            (http("ann", "POST", "/search/ann", {"query": chunk, "limit": 10}),
             {"first": cn}),
        ]
    c = corpus.live[picks[0]]
    y = c.filed.year
    judge = c.judge or dockets.JUDGES[0]
    phrase = zipf_pick(rng, dockets.PHRASES, TERM_ZIPF_S)
    word = zipf_pick(rng, corpus.vocab, TERM_ZIPF_S)
    terms = {c.uid, word}
    out += [
        (http("list_year", "GET", f"/cases?year={y}", args={"year": y}),
         {"rows": corpus.listing(year=y)}),
        (http("list_judge", "GET", "/cases?judge=" + urllib.parse.quote(judge),
              args={"judge": judge}),
         {"rows": corpus.listing(judge=dockets.norm_judge(judge))}),
        (http("phrase", "POST", "/search/phrase", {"phrase": phrase, "limit": 10}),
         {"allowed": sorted(cn for cn, x in corpus.live.items() if has_phrase(x.text, phrase))}),
        (http("hybrid", "POST", "/search/hybrid", {"query": f"{c.uid} {word}", "limit": 10}),
         {"allowed": sorted(cn for cn, x in corpus.live.items()
                            if terms & set(x.text.lower().split()))}),
    ]
    return out


def has_phrase(text, phrase):
    t, p = text.lower().split(), phrase.lower().split()
    return any(t[i:i + len(p)] == p for i in range(len(t) - len(p) + 1))


def pipeline(seed, run_dir, seconds, tiny):
    cfg = PIPELINE_TINY if tiny else PIPELINE
    corpus = dockets.Corpus(seed)
    rng = random.Random(seed * 104729 + 3)
    recs, base_summary, base_new, _ = corpus.batch(cfg["base"])
    base = run_dir / "base.json"
    write_batch(base, recs)
    expect = {}
    next_id = [0]

    def add(steps, op, exp=None, **kw):
        sid = f"s{next_id[0]}"
        next_id[0] += 1
        steps.append({"op": op, "id": sid, **kw})
        if exp is not None:
            expect[sid] = dict(exp, kind=op)

    def serve_and_read(steps, new, n):
        add(steps, "serve")
        live_new = [cn for cn in new if cn in corpus.live]
        for req, exp in readbacks(corpus, rng, rng.sample(live_new, n)):
            add(steps, req.pop("op"), exp, **req)

    def round_steps(r):
        steps = []
        recs, summary, new, touched = corpus.batch(cfg["batch"])
        f = run_dir / f"batch_{r}.json"
        size = write_batch(f, recs)
        add(steps, "ingest", {"summary": summary}, file=str(f), bytes=size,
            records=len(recs))
        add(steps, "follow", chunks=sum(chunk_count(corpus.live[cn].text) for cn in touched))
        add(steps, "report", {"exit": corpus.report_exit()})
        serve_and_read(steps, new, cfg["readbacks"])
        cns = corpus.forget(cfg["forget"])
        add(steps, "forget", {"forgotten": len(cns)}, cns=cns)
        add(steps, "compact")
        add(steps, "vacuum")
        return steps

    # warm-up: serve the base store and read it back once over every route
    warmup = []
    serve_and_read(warmup, base_new, 1)
    rounds = [round_steps(r) for r in range(max(1, math.ceil(seconds / PIPELINE_ROUND_FLOOR_S)))]
    store = run_dir / "store"
    (run_dir / "input.json").write_text(json.dumps(
        {"store_dir": str(store), "base": [str(base)], "warmup": warmup,
         "rounds": rounds}))
    return {"setup_summaries": [base_summary], "steps": expect,
            "forgotten_by_round": [[cn for s in rd if s["op"] == "forget" for cn in s["cns"]]
                                   for rd in rounds]}
