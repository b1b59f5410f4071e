"""Seeded docket generator and the model of the store it feeds.

Records follow the messiness of the reference corpus: mixed date
formats, court and judge spelling variants, three party separators,
updates to earlier case numbers, invalid records that must be
quarantined, and docket texts from one line up to several 1,200-char
chunks. `Corpus` keeps the state a correct engine must reach (live
cases, ledger totals), so every expected answer is computed here, apart
from the engine.
"""
import datetime as dt
import random
import re

# canonical normalized court -> spellings that normalize to it
COURTS = {
    "SDNY": ["S.D.N.Y.", "S.D.N.Y", "SDNY", "S D N Y"],
    "NDCAL": ["N.D. Cal.", "N.D.Cal.", "N D Cal", "ND Cal"],
    "WDWASH": ["W.D. Wash.", "W D Wash", "WD Wash"],
    "DNJ": ["D.N.J.", "DNJ", "D N J"],
    "EDVA": ["E.D. Va.", "ED Va", "E D Va"],
    "NDILL": ["N.D. Ill.", "ND Ill", "N.D.Ill."],
    "SDTEX": ["S.D. Tex.", "SD Tex", "S D Tex"],
    "DMASS": ["D. Mass.", "D Mass", "D.Mass."],
    "CDCAL": ["C.D. Cal.", "CD Cal", "C.D.Cal."],
    "EDPA": ["E.D. Pa.", "ED Pa", "E D Pa"],
}
FIRST = ["Maria", "James", "Aisha", "Wei", "Carlos", "Emily", "Omar", "Priya",
         "John", "Sofia", "David", "Grace", "Hiro", "Lena", "Marcus", "Nora"]
LAST = ["Rodriguez", "Chen", "Okafor", "Smith", "Patel", "Garcia", "Kim",
        "Nguyen", "Johnson", "Müller", "Rossi", "Cohen", "Silva", "Brown"]
JUDGES = [f"{f} {l}" for f, l in zip(FIRST * 2, LAST + LAST[:2])][:24]
JUDGE_TITLES = ["Hon. {}", "Hon {}", "HON. {}", "Judge {}", "{}", "Justice {}",
                "Judge  {}"]
CASE_TYPES = {"civil": ["civil", "Civil", "CIVIL"],
              "personal injury": ["personal injury", "Personal Injury"],
              "criminal": ["criminal", "Criminal"],
              "employment": ["employment", "Employment"]}
STATUSES = {"active": ["active", "Active", "ACTIVE"],
            "closed": ["Closed", "closed"], "pending": ["pending", "Pending"],
            "dismissed": ["dismissed", "DISMISSED"]}
ADJ = ["Acme", "Global", "Pioneer", "Summit", "Harbor", "Redwood", "Atlas",
       "Beacon", "Crescent", "Delta", "Evergreen", "Granite", "Liberty"]
NOUN = ["Logistics", "Holdings", "Foods", "Energy", "Media", "Health",
        "Capital", "Motors", "Labs", "Textiles", "Freight", "Insurance"]
SUFFIX = ["Corp", "LLC", "Inc.", "Co.", "Group"]
VOCAB = """motion court plaintiff defendant order filed hearing judgment
counsel discovery complaint answer brief appeal trial jury verdict damages
contract breach negligence injury employment discrimination claim claims
evidence witness deposition settlement conference schedule status report
granted denied stipulation exhibit memorandum opinion ruling sanctions
subpoena testimony expert amended petition removal remand venue
jurisdiction arbitration injunction relief class certification summary
dismiss dismissal prejudice notice appearance attorney fees costs
interrogatories production documents protective confidential sealed
transcript record review objection reply response opposition leave extend
deadline continuance vacate stay pending closed reopened judge magistrate
recommendation report findings fact law conclusions liability causation
wage overtime retaliation harassment termination wrongful insurance
coverage policy indemnity patent trademark copyright infringement
securities fraud antitrust merger lease tenant landlord property title
mortgage foreclosure bankruptcy creditor debtor estate trust probate
custody support criminal indictment plea sentencing probation bail
warrant search seizure suppression habeas corpus federal state county
district circuit supreme en banc panel mandate""".split()
VOCAB = list(dict.fromkeys(VOCAB))
PHRASES = ["summary judgment", "motion to dismiss", "breach of contract",
           "class certification", "preliminary injunction", "attorney fees",
           "protective order", "statute of limitations", "wrongful termination",
           "expert testimony"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct",
          "Nov", "Dec"]
MONTHS_FULL = ["January", "February", "March", "April", "May", "June", "July",
               "August", "September", "October", "November", "December"]
ROLE_RE = re.compile(r"\((plaintiff|defendant|plaintiffs|defendants|third_party"
                     r"|intervenor|other)\)", re.I)
PAREN_RE = re.compile(r"\([^)]+\)")

# the mix of one generated batch
SHARES = {"update": 0.15, "invalid": 0.04, "duplicate": 0.02,
          "no_judge": 0.07, "padded_title": 0.03, "default_status": 0.05,
          "default_case_type": 0.05}
TEXT_MIX = [("one_line", 0.5, 60, 120), ("one_chunk", 0.3, 300, 1100),
            ("multi_chunk", 0.2, 1300, 4200)]
WORD_ZIPF_S = 1.0


def norm_court(s):
    return re.sub(r"[.\s]+", "", (s or "").upper())


def norm_judge(s):
    s = re.sub(r"(?i)^(hon\.?|judge|justice)\s+", "", s or "")
    return re.sub(r"\s+", " ", s).strip().lower()


def norm_party(s):
    return re.sub(r"\s+", " ", s or "").strip().lower()


def parse_parties(s):
    """(normalized name, role) links of a parties string: sections split
    on `;` and `/`, the first role in parentheses names every party of
    its section, plural roles singular, no role = `other`."""
    out = set()
    for section in re.split(r"[;/]", s or ""):
        section = section.strip()
        if not section:
            continue
        m = ROLE_RE.search(section)
        role = "other"
        if m:
            role = m.group(1).lower()
            role = role[:-1] if role.endswith("s") else role
            section = PAREN_RE.sub("", section).strip()
        for name in section.split(","):
            if name.strip():
                out.add((norm_party(name.strip()), role))
    return out


def zipf_weights(n, s):
    return [1.0 / (i + 1) ** s for i in range(n)]


class Case:
    """The canonical docket a stored case must equal."""

    def __init__(self, **kw):
        self.__dict__.update(kw)

    def expected_detail(self):
        return {"case_number": self.cn, "title": self.title,
                "filed_date": self.filed.isoformat(), "docket_text": self.text,
                "status": self.status, "judge": self.judge_norm,
                "court": self.court, "case_type": self.case_type,
                "parties": sorted(map(list, self.parties))}


class Corpus:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.next_num = 10000 + self.rng.randrange(50000)
        self.live = {}         # case_number -> Case
        self.forgotten = []
        self.quarantined_cns = set()
        self.total_read = 0
        self.total_failed = 0
        self.runs = 0
        self.word_w = zipf_weights(len(VOCAB), WORD_ZIPF_S)
        self.vocab = VOCAB[:]
        self.rng.shuffle(self.vocab)
        self.party_pool = self._party_pool()

    # ------------------------------------------------------------ values
    def _party_pool(self):
        r = self.rng
        companies = {f"{a} {n} {s}" for a in ADJ for n in NOUN for s in SUFFIX}
        people = {f"{f} {l}" for f in FIRST for l in LAST}
        pool = sorted(companies) + sorted(people)
        r.shuffle(pool)
        return pool[:600]

    def _case_number(self, year):
        r = self.rng
        num = self.next_num
        self.next_num += 1 + r.randrange(3)
        d, yy, t = r.randint(1, 4), year % 100, r.choice(["cv", "cv", "cr"])
        shape = r.randrange(5)
        return [f"{d}:{yy:02d}-{t}-{num:05d}", f"{d}-2{yy:02d}-{t}-{num}",
                f"{d}:2{yy:02d}:{t}:{num}", f"0:2{yy:02d}{t}{num}",
                f"{d} 2{yy:02d} {t} {num}"][shape], num

    def _date_text(self, d):
        r = self.rng
        k = r.random()
        if k < 0.3:
            return d.isoformat()
        if k < 0.55:
            return f"{d.month}-{d.day}-{d.year}"
        if k < 0.75:
            return r.choice([f"{d.month}/{d.day}/{d.year}",
                             f"{d.month:02d}/{d.day:02d}/{d.year}"])
        if k < 0.9:
            return f"{MONTHS[d.month - 1]} {d.day}, {d.year}"
        return f"{MONTHS_FULL[d.month - 1]} {d.day}, {d.year}"

    def _text(self, uid):
        r = self.rng
        k, acc = r.random(), 0.0
        for _, share, lo, hi in TEXT_MIX:
            acc += share
            if k < acc:
                break
        target = r.randint(lo, hi)
        words = [uid]
        n = len(uid)
        while n < target:
            if r.random() < 0.08:
                w = r.choice(PHRASES)
            else:
                w = r.choices(self.vocab, self.word_w)[0]
            words.append(w)
            n += len(w) + 1
        return " ".join(words)

    def _parties(self):
        r = self.rng
        pl = r.sample(self.party_pool, r.randint(1, 2))
        df = r.sample([p for p in self.party_pool if p not in pl], r.randint(1, 2))

        def section(names, role):
            return ", ".join(names) + f" ({role}{'s' if len(names) > 1 else ''})"
        sep = r.choice(["; ", " / ", ", "])
        s = sep.join([section(pl, "plaintiff"), section(df, "defendant")])
        return s, f"{pl[0]} v. {df[0]}"

    # ----------------------------------------------------------- records
    def new_case(self):
        r = self.rng
        filed = dt.date(2019, 1, 1) + dt.timedelta(days=r.randrange(7 * 365))
        cn, num = self._case_number(filed.year)
        parties, title = self._parties()
        if r.random() < SHARES["padded_title"]:
            title = r.choice([" ", "  "]) + title + r.choice(["", " "])
        judge = None if r.random() < SHARES["no_judge"] else r.choice(JUDGES)
        court = r.choice(sorted(COURTS))
        ct = None if r.random() < SHARES["default_case_type"] else r.choice(sorted(CASE_TYPES))
        st = None if r.random() < SHARES["default_status"] else r.choice(sorted(STATUSES))
        uid = f"uid{num}x"
        return Case(cn=cn, filed=filed, parties_raw=parties,
                    parties=parse_parties(parties), title=title,
                    judge=judge, judge_norm=norm_judge(judge) or None,
                    court=court, case_type=ct or "civil", ct_raw=ct,
                    status=st or "active", st_raw=st, uid=uid,
                    text=self._text(uid))

    def raw(self, c):
        """One messy raw record for canonical case `c`."""
        r = self.rng
        if c.judge is None:
            judge = r.choice([None, "", "  "])
        else:
            judge = r.choice(JUDGE_TITLES).format(c.judge)
        return {"case_number": c.cn if r.random() > 0.05 else f" {c.cn} ",
                "court": r.choice(COURTS[c.court]), "title": c.title,
                "filed_date": self._date_text(c.filed),
                "parties": c.parties_raw,
                "case_type": None if c.ct_raw is None else r.choice(CASE_TYPES[c.ct_raw]),
                "judge": judge, "docket_text": c.text,
                "status": None if c.st_raw is None else r.choice(STATUSES[c.st_raw])}

    def _invalid(self, reuse):
        """An invalid record; with `reuse` it carries a live case number,
        so that case has quarantined records."""
        r = self.rng
        base = self.live[r.choice(sorted(self.live))] if reuse else self.new_case()
        rec = self.raw(base)
        kind = r.choice(["BAD_DATE", "FK_COURT", "STATUS_UNMAPPED"] if reuse else
                        ["BAD_DATE", "MISSING_CASE_NUMBER", "FK_COURT", "STATUS_UNMAPPED"])
        if kind == "BAD_DATE":
            rec["filed_date"] = r.choice(["13-40-2024", "2024/31/12", "sometime"])
        elif kind == "MISSING_CASE_NUMBER":
            rec["case_number"] = r.choice(["", "   ", None])
        elif kind == "FK_COURT":
            rec["court"] = r.choice(["", "  "])
        else:
            rec["status"] = r.choice(["archived", "unknown"])
        if reuse:
            self.quarantined_cns.add(base.cn)
        return rec

    def batch(self, n):
        """`n` raw records, the ingest summary a correct engine prints,
        the new case numbers and every case number the batch wrote.
        Each batch holds the same counts of invalid records, updates and
        duplicates (SHARES of `n`, rounded); the seed picks which."""
        r = self.rng
        plan = {k: round(n * SHARES[k]) for k in ("invalid", "update", "duplicate")}
        kinds = [k for k, c in plan.items() for _ in range(c)]
        kinds += ["new"] * (n - len(kinds))
        r.shuffle(kinds)
        if "duplicate" in kinds:  # a duplicate repeats a new record before it
            first_new = kinds.index("new")
            for i, k in enumerate(kinds[:first_new]):
                if k == "duplicate":
                    kinds[i], kinds[first_new] = "new", "duplicate"
                    break
        if not self.live:
            kinds = ["new" if k == "update" else k for k in kinds]
        records, inserted, updated, failed, new = [], 0, 0, 0, []
        seen = set()  # case numbers of this batch's valid records
        for kind in kinds:
            if kind == "invalid":
                # half of a batch's invalid records reuse a live case number
                records.append(self._invalid(reuse=bool(self.live) and failed % 2 == 0))
                failed += 1
                continue
            if kind == "update":
                c = self.live[r.choice(sorted(self.live))]
                c.status = r.choice(sorted(STATUSES))
                c.st_raw = c.status
                c.text = self._text(c.uid)
            elif kind == "duplicate":
                c = r.choice(new)
                c.title = c.title.strip() + " (amended)"
            else:
                c = self.new_case()
                new.append(c)
            if c.cn in self.live or c.cn in seen:
                updated += 1
            else:
                inserted += 1
            seen.add(c.cn)
            records.append(self.raw(c))
            self.live[c.cn] = c
        self.total_read += n
        self.total_failed += failed
        self.runs += 1
        summary = {"read": n, "inserted": inserted, "updated": updated, "failed": failed}
        return records, summary, [c.cn for c in new], sorted(seen)

    def forget(self, k):
        """Pick `k` live cases to erase: one with quarantined records,
        the rest without."""
        r = self.rng
        quarantined = sorted(cn for cn in self.quarantined_cns if cn in self.live)
        picks = [r.choice(quarantined)] if quarantined else []
        clean = sorted(cn for cn in self.live if cn not in self.quarantined_cns)
        picks += r.sample(clean, k - len(picks))
        for cn in picks:
            del self.live[cn]
        self.forgotten += picks
        return picks

    def report_exit(self):
        """The quality gate: >5% failed records, or >10% of live cases
        without a judge, court or case type, fails."""
        failed_pct = 100.0 * self.total_failed / self.total_read if self.total_read else 0.0
        n = len(self.live)
        no_judge = sum(1 for c in self.live.values() if c.judge_norm is None)
        bad = failed_pct > 5.0 or (n and 100.0 * no_judge / n > 10.0)
        return 1 if bad else 0

    # ------------------------------------------------------ expectations
    def listing(self, year=None, judge=None, limit=200):
        rows = [c for c in self.live.values()
                if (year is None or c.filed.year == year)
                and (judge is None or c.judge_norm == judge)]
        rows.sort(key=lambda c: c.cn)
        rows.sort(key=lambda c: c.filed, reverse=True)
        return [[c.cn, c.title, c.filed.isoformat(), c.judge_norm, c.court, c.status]
                for c in rows[:limit]]
