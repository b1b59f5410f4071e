"""Output checks. Each `check_<workload>` takes the JVM's result and the
expectations `inputs.make` computed, marks every op that gave a wrong
answer as failed (its error starts with `check:`), and returns the
problems that belong to no single op. `corrupt` names one expected value
to falsify, to show that the check behind it can fail: `catalog`,
`hugeint` (an oracle column typed HUGEINT), `setup`, `leftovers`, or an
op kind of `pipeline`.
"""
import json
import sys
from pathlib import Path

import dockets

ROOT = Path(__file__).resolve().parent.parent


def fail(op, why):
    if op["ok"]:
        op["ok"] = False
        op["error"] = f"check: {why}"


# ---------------------------------------------------------------- catalog
def check_catalog(result, expect, corrupt=None):
    """Each entry's first timed output equals its oracle SQL run in
    DuckDB over the same parquet (scripts/check.py's HUGEINT and
    comparison rules);
    every later output of the entry hashes the same."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import duckdb
    from check import TABLES, compare
    con = duckdb.connect()
    data = Path(expect["data_dir"])
    for t in TABLES:
        if (data / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = result["extra"]["oracle_sql"]
    out_dir = Path(result["run_dir"]) / "outputs"
    bad, first = {}, {}  # first: each entry's first op that did not throw
    for op in result["ops"]:
        if op["ok"]:
            first.setdefault(op["key"], op)
    for name in first:
        if name not in oracle:
            bad[name] = "no oracle SQL"
            continue
        got = con.execute(f"SELECT * FROM '{out_dir / name}/*.parquet'").fetchdf()
        sql = oracle[name]
        if corrupt == "hugeint" and name == next(iter(first)):
            sql = f"SELECT *, 1::HUGEINT AS probe FROM ({sql})"
        rel = con.sql(sql)
        # as in scripts/check.py: pandas turns HUGEINT into float, which
        # would hide a value mismatch, so the type itself fails
        huge = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()]
        if huge:
            bad[name] = f"oracle columns type as HUGEINT: {huge}"
            continue
        want = rel.fetchdf()
        if corrupt == "catalog" and name == next(iter(first)):
            want = want.rename(columns={want.columns[0]: want.columns[0] + "_x"})
        ok, why = compare(got, want)
        if not ok:
            bad[name] = f"differs from the DuckDB oracle: {why}"
    for op in result["ops"]:
        name = op["key"]
        if name in bad:
            fail(op, bad[name])
        elif op["ok"] and op["out"] != first[name]["out"]:
            fail(op, "output differs from the entry's first output")
    return []


# ------------------------------------------------------ HTTP read-backs
def non_increasing(xs):
    return all(a >= b for a, b in zip(xs, xs[1:]))


def detail_problem(got, want):
    """Why a case detail differs from the generated record, or None."""
    for f in ("case_number", "title", "filed_date", "docket_text", "status", "case_type"):
        if got.get(f) != want[f]:
            return f"{f} {got.get(f)!r} != {want[f]!r}"
    judge = dockets.norm_judge(got.get("judge")) or None
    if judge != want["judge"]:
        return f"judge {got.get('judge')!r} is not {want['judge']!r}"
    if dockets.norm_court(got.get("court")) != want["court"]:
        return f"court {got.get('court')!r} is not {want['court']!r}"
    parties = sorted([p["normalized_name"], p["role"]] for p in got.get("parties", []))
    if parties != want["parties"]:
        return f"parties {parties} != {want['parties']}"
    return None


SCORE = {"search_dockets": "best_similarity", "ann": "best_cosine", "keyword": "score",
         "bm25": "score_micro", "phrase": "n_phrase", "hybrid": "rrf_micro"}


def answer_problem(e, status, body):
    """Why an HTTP answer is wrong, or None: details and listings equal
    the model; search hits are ranked by non-increasing score, a planted
    unique term finds exactly its case, a docket's own first chunk ranks
    it first, and every lexical hit holds a query term or the phrase."""
    kind = e["kind"]
    if status != 200:
        return f"status {status}: {body[:200]}"
    got = json.loads(body)
    if kind == "get_case":
        return detail_problem(got, e["detail"])
    if kind in ("list_year", "list_judge"):
        rows = [[r["case_number"], r["title"], r["filed_date"],
                 dockets.norm_judge(r["judge"]) or None,
                 dockets.norm_court(r["court"]), r["status"]] for r in got]
        return None if rows == e["rows"] else f"rows differ: {rows[:2]} vs {e['rows'][:2]}"
    cns = [h["case_number"] for h in got]
    if not non_increasing([h[SCORE[kind]] for h in got]):
        return "scores increase down the list"
    if "first" in e and cns[:1] != [e["first"]]:
        return f"own first chunk ranks {cns[:1]} first, not {e['first']}"
    if "exactly" in e and cns != e["exactly"]:
        return f"planted term returned {cns}, not {e['exactly']}"
    if "allowed" in e:
        lexical = [h["case_number"] for h in got if kind != "hybrid" or h["rank_kw"] > 0]
        stray = [cn for cn in lexical if cn not in set(e["allowed"])]
        if stray:
            return f"hits without a query term or the phrase: {stray[:3]}"
    return None


def setup_problems(result, expect, corrupt=None):
    got = [json.loads(s["out"].strip().splitlines()[-1])["summary"]
           for s in result["extra"]["setup"] if s["args"][0] == "ingest"]
    want = [dict(s) for s in expect["setup_summaries"]]
    if corrupt == "setup":
        want[0]["read"] += 1
    return [] if got == want else [f"set-up ingest summaries {got} != {want}"]


# --------------------------------------------------------------- pipeline
def step_problem(kind, e, out, answer):
    if kind == "ingest":
        got = json.loads(out)["summary"]
        return None if got == e["summary"] else f"summary {got} != {e['summary']}"
    if kind == "report":
        return None if out == str(e["exit"]) else f"exit code {out} != {e['exit']}"
    if kind == "forget":
        got = json.loads(out)
        return (None if got["forgotten"] == got["requested"] == e["forgotten"]
                else f"forgot {got['forgotten']} of {e['forgotten']}")
    return answer_problem(e, answer["status"], answer["body"])


def jsonl_mentions(store, cns):
    """Quarantine JSONL side-file records that still name a case."""
    hits = []
    for f in Path(store).glob("quarantine_jsonl/**/*.json"):
        for line in f.read_text().splitlines():
            cn = ((json.loads(line).get("raw") or {}).get("case_number") or "").strip()
            if cn in cns:
                hits.append(cn)
    return hits


def check_pipeline(result, expect, corrupt=None):
    problems = setup_problems(result, expect, corrupt)
    steps = {k: dict(v) for k, v in expect["steps"].items()}
    answers = {a["id"]: a for a in result["extra"]["answers"]}
    if corrupt not in (None, "setup", "leftovers"):
        # falsify the expectation of the first timed op of the named kind
        k = next(op["key"] for op in result["ops"]
                 if op["kind"] == corrupt and op["key"] in steps)
        e = steps[k]
        for field, bad in (("summary", {"read": -1}), ("exit", -1), ("forgotten", -1),
                           ("detail", dict(e.get("detail") or {}, status="corrupted")),
                           ("rows", [["corrupted"]]), ("first", "corrupted"),
                           ("exactly", ["corrupted"]), ("allowed", [])):
            if field in e:
                e[field] = bad
                break
    for op in result["ops"]:
        if op["ok"] and op["key"] in steps:
            answer = answers.get(op["key"], {"status": 0, "body": ""})
            why = step_problem(op["kind"], steps[op["key"]], op["out"], answer)
            if why:
                fail(op, why)
    rounds = result["extra"]["rounds"]
    gone = [cn for r in expect["forgotten_by_round"][:rounds] for cn in r]
    left = {t: n for t, n in result["extra"]["forget_leftovers"].items() if n}
    jsonl = jsonl_mentions(Path(result["run_dir"]) / "store", set(gone))
    if corrupt == "leftovers":
        jsonl = jsonl + gone[:1]
    if left or jsonl:
        why = f"forgotten cases remain: {left} jsonl={sorted(set(jsonl))[:3]}"
        for op in result["ops"]:
            if op["kind"] == "forget":
                fail(op, why)
        if not any(op["kind"] == "forget" for op in result["ops"]):
            problems.append(why)
    return problems


CHECKS = {"catalog": check_catalog, "pipeline": check_pipeline}
