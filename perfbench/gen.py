"""Seeded input generators for the stream workloads, and the model fold that
states what the merged table must hold.

Both stream workloads write a Synapse Link layout: one folder per batch,
named by its close time (`yyyy-MM-ddTHH.mm.ssZ`), holding a `model.json`
and several chunk CSVs under `<entity>/`.  The generator returns a `Plan`:
the folders in close order, each with its CSV lines and the change records
that went into it.  `fold()` replays those records with the engine's rules
(latest version wins, a tombstone removes the key, a stale version loses,
a planted copy never lands) to give the expected table, and `states_between`
answers what a point lookup may legally see while the stream runs.

Nothing here imports Spark: the model is independent of the engine.
"""
import json
import os
import random
import uuid
from dataclasses import dataclass, field

CHUNKS_PER_FOLDER = 4


@dataclass
class Rec:
    """One change record as the engine will see it after parsing."""
    key: object            # str guid (cdc_cow) or int (docs)
    version: int
    deleted: bool
    payload: tuple = ()    # the checked non-key columns, in Plan.check_cols order
    suppressed: bool = False   # planted copy: content dedup must drop it


@dataclass
class Folder:
    name: str
    phase: str             # history | warmup | paced | burst
    lines: list
    recs: list


@dataclass
class Plan:
    entity: str
    model_json: str
    key_col: str
    key_type: str          # string | long
    check_cols: list       # payload columns the checker compares
    folders: list = field(default_factory=list)
    lookup_pool: dict = field(default_factory=dict)   # folder index -> [(kind, key)]
    absent_keys: list = field(default_factory=list)

    def index_of(self, name):
        return self._idx[name]

    def finish(self):
        self._idx = {f.name: i for i, f in enumerate(self.folders)}
        return self

    def rows(self, phases):
        return sum(len(f.lines) for f in self.folders if f.phase in phases)


def folder_name(i):
    """Folder names sort lexically in close order: one per simulated minute
    from 2024-01-01T00.00.00Z (up to 1440 folders)."""
    return "2024-01-01T%02d.%02d.00Z" % (i // 60, i % 60)


def _model(entity, attrs):
    return json.dumps({
        "name": "cdm", "version": "1.0",
        "entities": [{
            "$type": "LocalEntity", "name": entity,
            "attributes": [dict(name=n, dataType=t, **({"traits": tr} if tr else {}))
                           for n, t, tr in attrs]}]})


def write_folder(root, plan, folder):
    """Write one folder (model.json + chunk CSVs) under `root/<name>`."""
    d = os.path.join(root, folder.name, plan.entity)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(root, folder.name, "model.json"), "w") as f:
        f.write(plan.model_json)
    n = len(folder.lines)
    per = max(1, -(-n // CHUNKS_PER_FOLDER))
    for c in range(CHUNKS_PER_FOLDER):
        part = folder.lines[c * per:(c + 1) * per]
        if part:
            with open(os.path.join(d, "%d.csv" % c), "w") as f:
                f.write("\n".join(part) + "\n")


def write_root_model(root, plan):
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "model.json"), "w") as f:
        f.write(plan.model_json)


def stamp_changelog(root, folder):
    d = os.path.join(root, "Changelog")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, ".changelog.info.tmp")
    with open(tmp, "w") as f:
        f.write(folder)
    os.replace(tmp, os.path.join(d, "changelog.info"))


# --------------------------------------------------------------- cdc_cow

COW_ENTITY = "custtrans"
_DEC = [{"traitReference": "is.dataFormat.numeric.shaped",
         "arguments": [{"name": "precision", "value": 32}, {"name": "scale", "value": 6}]}]
COW_ATTRS = [
    ("Id", "guid", None), ("SinkCreatedOn", "dateTime", None),
    ("SinkModifiedOn", "dateTime", None), ("accountnum", "string", None),
    ("voucher", "string", None), ("amountcur", "decimal", _DEC),
    ("exchrate", "double", None), ("recid", "int64", None),
    ("partition", "int64", None), ("dataareaid", "string", None),
    ("transtype", "int32", None), ("approved", "boolean", None),
    ("transdate", "dateTime", None), ("createdon", "dateTimeOffset", None),
    ("versionnumber", "int64", None), ("IsDelete", "boolean", None),
]


def _d365(rng):
    """D365-shape dateTime: `M/D/YYYY h:mm:ss AM|PM`."""
    h = rng.randint(1, 12)
    return '"%d/%d/2023 %d:%02d:%02d %s"' % (
        rng.randint(1, 12), rng.randint(1, 28), h, rng.randint(0, 59),
        rng.randint(0, 59), rng.choice(("AM", "PM")))


def _cow_line(rng, key, version, payload):
    acct, recid, rate = payload
    iso = "2023-%02d-%02dT%02d:%02d:%02d.%07d" % (
        rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23),
        rng.randint(0, 59), rng.randint(0, 59), rng.randint(0, 9999999))
    return ",".join([
        key, _d365(rng), _d365(rng), '"%s"' % acct,
        '"V%08d"' % rng.randint(0, 99999999),
        "%d.%06d" % (rng.randint(0, 999999), rng.randint(0, 999999)),
        repr(rate), str(recid), "5637144576", '"usmf"', str(rng.randint(0, 30)),
        rng.choice(("True", "False")), _d365(rng), '"%s+00:00"' % iso,
        str(version), ""])


def _cow_delete(key, version):
    return ",".join([key, '"1/1/2024 12:00:00 AM"', '"1/1/2024 12:00:00 AM"']
                    + [""] * 10 + ['"0001-01-03T00:00:00.0000000"', str(version), "True"])


def gen_cow(seed, history_keys, history_folders, warmup, paced, burst,
            inserts, updates, deletes, stale, lookups_per_folder=40):
    """cdc_cow: a wide D365 entity.  History folders carry several versions
    per key; each later folder mixes new-guid inserts, updates skewed to
    recently written keys, a few deletes and a few stale versions."""
    rng = random.Random(seed)
    guid = lambda: str(uuid.UUID(int=rng.getrandbits(128), version=4))
    plan = Plan(COW_ENTITY, _model(COW_ENTITY, COW_ATTRS), "Id", "string",
                ["versionnumber", "accountnum", "recid", "exchrate"])
    counter = [1_000_000_000]

    def nextv():
        counter[0] += rng.randint(1, 3)
        return counter[0]

    live = {}          # key -> current version
    recent = []        # keys in write order (most recent last), may repeat
    deleted = set()

    def upsert(key, lines, recs):
        v = nextv()
        payload = ("A%06d" % rng.randint(0, 999999), rng.getrandbits(40), rng.random() * 10)
        lines.append(_cow_line(rng, key, v, payload))
        recs.append(Rec(key, v, False, payload))
        live[key] = v
        recent.append(key)

    def pick_recent(exclude):
        # updates skew to recent keys: exponential distance from the tail
        for _ in range(100):
            k = recent[max(0, len(recent) - 1 - int(rng.expovariate(1.0 / 300)))]
            if k in live and k not in exclude:
                return k
        return None

    idx = 0
    keys = [guid() for _ in range(history_keys)]
    for h in range(history_folders):
        lines, recs = [], []
        if h == 0:
            for k in keys:
                upsert(k, lines, recs)
        else:
            touched = set()
            for k in rng.sample(sorted(live), len(live) * 3 // 10):
                upsert(k, lines, recs)
                touched.add(k)
            for k in rng.sample(sorted(set(live) - touched), len(live) // 100):
                v = nextv()
                lines.append(_cow_delete(k, v))
                recs.append(Rec(k, v, True))
                del live[k]
                deleted.add(k)
        plan.folders.append(Folder(folder_name(idx), "history", lines, recs))
        idx += 1

    for phase, n in (("warmup", warmup), ("paced", paced), ("burst", burst)):
        for _ in range(n):
            lines, recs, touched = [], [], set()
            for _ in range(inserts):
                k = guid()
                upsert(k, lines, recs)
                touched.add(k)
            upd = []
            for _ in range(updates):
                k = pick_recent(touched)
                if k is not None:
                    upsert(k, lines, recs)
                    touched.add(k)
                    upd.append(k)
            dels = []
            for _ in range(deletes):
                k = pick_recent(touched)
                if k is not None:
                    v = nextv()
                    lines.append(_cow_delete(k, v))
                    recs.append(Rec(k, v, True))
                    del live[k]
                    deleted.add(k)
                    touched.add(k)
                    dels.append(k)
            for _ in range(stale):
                k = pick_recent(touched)
                if k is not None:
                    # an older version than the stored one: must lose
                    v = live[k] - 1
                    payload = ("STALE", 0, 0.0)
                    lines.append(_cow_line(rng, k, v, payload))
                    recs.append(Rec(k, v, False, payload))
                    touched.add(k)
            rng.shuffle(lines)
            plan.folders.append(Folder(folder_name(idx), phase, lines, recs))
            plan.lookup_pool[idx] = _lookup_mix(rng, upd, dels, lookups_per_folder)
            idx += 1
    plan.absent_keys = [guid() for _ in range(200)]
    return plan.finish()


def _lookup_mix(rng, updated, deleted, n):
    pool = [("updated", k) for k in updated] + [("deleted", k) for k in deleted]
    rng.shuffle(pool)
    return pool[:n]


# ------------------------------------------------------- cdc_mor_reads (docs)

DOCS_ENTITY = "crawl_docs"
DOCS_ATTRS = [("Id", "int64", None), ("SinkCreatedOn", "dateTime", None),
              ("body", "string", None), ("versionnumber", "int64", None),
              ("IsDelete", "boolean", None)]


def doc_body(d, tokens=12):
    """Every token embeds `d`, so two bodies share a word shingle iff they
    share `d`: distinct bodies never near-duplicate, exact copies always do."""
    return " ".join("w%s%d" % (chr(97 + t % 26), d) for t in range(tokens))


def _doc_line(key, body, version, deleted):
    return '%d,"1/1/2024 12:00:00 AM","%s",%d,%s' % (
        key, body, version, "True" if deleted else "")


def gen_docs(seed, history_docs, warmup, paced, burst,
             inserts, copies, same_text, new_text, deletes, lookups_per_folder=40):
    """cdc_mor_reads: crawl-document rows, the `materializeStreamDocs`
    construction with seeded sizes.  The backfill folder seeds the band
    index.  Later folders carry fresh inserts (kept), exact copies of
    backfilled bodies under new keys (suppressed), same-key updates with
    unchanged text (kept: the key is live) or new text (kept), and
    deletes.  Copy sources, unchanged-text targets and deleted keys come
    from disjoint thirds of the backfilled keys, so no batch ever holds a
    copy beside the row it copies."""
    rng = random.Random(seed)
    plan = Plan(DOCS_ENTITY, _model(DOCS_ENTITY, DOCS_ATTRS), "Id", "long",
                ["versionnumber", "body"])
    next_d = [rng.randint(1, 1000) * 1_000_000]
    next_key = [10_000_000]

    def fresh_d():
        next_d[0] += rng.randint(1, 7)
        return next_d[0]

    def fresh_key():
        next_key[0] += rng.randint(1, 5)
        return next_key[0]

    body_of, version_of = {}, {}
    hist_keys = [fresh_key() for _ in range(history_docs)]
    lines, recs = [], []
    for k in hist_keys:
        b = doc_body(fresh_d())
        body_of[k], version_of[k] = b, 1
        lines.append(_doc_line(k, b, 1, False))
        recs.append(Rec(k, 1, False, (b,)))
    plan.folders.append(Folder(folder_name(0), "history", lines, recs))
    thirds = [hist_keys[i::3] for i in range(3)]
    copy_src, same_pool, del_pool = (list(t) for t in thirds)
    rng.shuffle(same_pool)
    rng.shuffle(del_pool)
    streamed = []      # keys inserted by the stream, eligible for new-text updates

    idx = 1
    for phase, n in (("warmup", warmup), ("paced", paced), ("burst", burst)):
        for _ in range(n):
            lines, recs, touched, upd, dels = [], [], set(), [], []
            v = idx + 1

            def emit(k, b, deleted=False, suppressed=False):
                lines.append(_doc_line(k, "" if deleted else b, v, deleted))
                recs.append(Rec(k, v, deleted, (b,), suppressed))

            for _ in range(inserts):
                k = fresh_key()
                b = doc_body(fresh_d())
                emit(k, b)
                body_of[k], version_of[k] = b, v
                streamed.append(k)
                touched.add(k)
            for _ in range(copies):
                emit(fresh_key(), body_of.get(rng.choice(copy_src)) or doc_body(0),
                     suppressed=True)
            for _ in range(same_text):
                k = same_pool[rng.randrange(len(same_pool))]
                if k in touched:
                    continue
                emit(k, body_of[k])
                version_of[k] = v
                touched.add(k)
                upd.append(k)
            for _ in range(new_text):
                cands = streamed[:-inserts] if len(streamed) > inserts else []
                if not cands:
                    break
                k = cands[len(cands) - 1 - min(len(cands) - 1, int(rng.expovariate(1 / 50)))]
                if k in touched or k not in version_of:
                    continue
                b = doc_body(fresh_d())
                emit(k, b)
                body_of[k], version_of[k] = b, v
                touched.add(k)
                upd.append(k)
            for _ in range(deletes):
                if not del_pool:
                    break
                k = del_pool.pop()
                emit(k, "", deleted=True)
                version_of.pop(k, None)
                dels.append(k)
            rng.shuffle(lines)
            plan.folders.append(Folder(folder_name(idx), phase, lines, recs))
            plan.lookup_pool[idx] = _lookup_mix(rng, upd, dels, lookups_per_folder)
            idx += 1
    # copies of copy_src bodies are always of backfilled text; the plan
    # never deletes or rewrites copy_src keys, so their bodies are stable
    plan.absent_keys = [next_key[0] + 1000 + i for i in range(200)]
    return plan.finish()


# ------------------------------------------------------------------ model

def fold(plan, upto=None):
    """Expected table after every folder up to index `upto` (inclusive):
    {key: payload}.  Per key, the highest-version record wins; a winning
    tombstone removes the key; suppressed copies never land.  The
    generators never touch a key after its delete, so this per-key maximum
    is also what sequential batch-by-batch merging gives, however the
    stream groups folders into batches."""
    best = {}
    last = len(plan.folders) - 1 if upto is None else upto
    for f in plan.folders[:last + 1]:
        for r in f.recs:
            if r.suppressed:
                continue
            cur = best.get(r.key)
            if cur is None or r.version > cur.version:
                best[r.key] = r
    return {k: (r.version,) + r.payload for k, r in best.items() if not r.deleted}


class History:
    """Per-key state at every folder index, for checking lookups made while
    the stream runs: a lookup that saw watermark `lo` before and `hi` after
    may return the key's state at any folder index in [lo, hi]."""

    def __init__(self, plan):
        self.plan = plan
        self.by_key = {}
        for i, f in enumerate(plan.folders):
            for r in f.recs:
                if not r.suppressed:
                    self.by_key.setdefault(r.key, []).append((i, r))

    def state_at(self, key, idx):
        best = None
        for i, r in self.by_key.get(key, ()):
            if i > idx:
                break
            if best is None or r.version > best.version:
                best = r
        if best is None or best.deleted:
            return None
        return best.version

    def states_between(self, key, lo, hi):
        return {self.state_at(key, i) for i in range(lo, hi + 1)}
