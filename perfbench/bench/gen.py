"""Deterministic input generator: the same (workload, seed) gives the same files.

graft only ever sees what this module writes. Texts are built from a fixed
pseudo-word vocabulary, so unrelated documents share almost no 5-character
shingles and MinHash candidates come from the planted duplicates.
"""
import json
import os
import random

VOCAB_SEED = 7
VOCAB_SIZE = 8000
SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"] + ["th", "sh", "qu", "st"]

# research_api: one 12-session cycle. q = fresh query ending in "?", c = fresh
# query answered through three clarification turns, rh / rq / rc = exact
# repeat of a "?" query of the history / an earlier q / an earlier c query
# (served by the cache gate). 4/12 are "?" queries and 3/12 are repeats.
# A run measures the first sessions, so the cycle opens with one of each kind.
SESSION_CYCLE = ["q", "rh", "c", "c", "c", "rc", "c", "q", "c", "c", "rq", "c"]
RESEARCH_SESSIONS = 240
RESEARCH_HISTORY = 2000
EMB_DIM = 64

CURATE_DOCS = 1200
CURATE_SOURCES = [("src0", 0.5), ("src1", 0.25), ("src2", 0.15), ("src3", 0.10)]
CURATE_PLANTED_FRAC = 0.30
CURATE_JUNK_FRAC = 0.03

STREAM_HISTORY = 5200
STREAM_BATCHES = 80
STREAM_NEW, STREAM_INTRA, STREAM_CROSS, STREAM_REDELIVER = 30, 4, 4, 2
STREAM_REPLAY_AT = 2  # this batch re-sends the previous batch id


def vocabulary():
    rnd = random.Random(VOCAB_SEED)
    words = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rnd.choice(SYLLABLES) for _ in range(rnd.randint(2, 4))))
    return sorted(words)


def text(rnd, vocab, chars):
    out, n = [], 0
    while n < chars:
        w = rnd.choice(vocab)
        out.append(w)
        n += len(w) + 1
    return " ".join(out)


def mutate(rnd, vocab, t, k):
    """Replace k distinct word positions."""
    words = t.split(" ")
    for i in rnd.sample(range(len(words)), k):
        words[i] = rnd.choice(vocab)
    return " ".join(words)


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, separators=(",", ":")) + "\n")


def java_hash(s):
    """Java's String.hashCode as an unsigned 32-bit value."""
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h


def stub_embed(query, dim=EMB_DIM):
    """The vector graft's Research.StubAgents embeds a report on `query` to.

    The stub keys a report by its lower-cased query and expands the key's
    hashCode with a 64-bit LCG, so a history result indexed with this vector
    is found by the cache gate when the same query comes again.
    """
    s = java_hash(query.strip().lower())
    out = []
    for _ in range(dim):
        s = (s * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        out.append(round((s >> 40) / 8388608.0 - 1.0, 6))
    return out


def research(rnd, vocab):
    def query(used):
        while True:
            q = " ".join(rnd.choice(vocab) for _ in range(rnd.randint(3, 6)))
            if q not in used:
                used.add(q)
                return q
    used = set()
    history = []
    for i in range(RESEARCH_HISTORY):
        q = query(used) + ("?" if i % 2 else "")
        history.append({
            "i": i, "wf": "h-%d" % i, "query": q,
            "questions": ["What aspect of '%s'?" % q, "What time range?", "What depth?"],
            "answers": [text(rnd, vocab, 30) for _ in range(3)],
            "body": text(rnd, vocab, 400), "emb": stub_embed(q)})
    # repeat_of: an earlier session, or -1 - h for history conversation h
    sessions, fresh = [], {"q": [], "c": []}
    for i in range(RESEARCH_SESSIONS):
        kind = SESSION_CYCLE[i % len(SESSION_CYCLE)]
        if kind in ("q", "c"):
            q, rep = query(used) + ("?" if kind == "q" else ""), -1
            fresh[kind].append(i)
        elif kind == "rh":
            h = rnd.randrange(1, RESEARCH_HISTORY, 2)
            q, rep = history[h]["query"], -1 - h
        else:
            rep = rnd.choice(fresh[kind[1]])
            q = sessions[rep]["query"]
        sessions.append({"i": i, "query": q, "repeat_of": rep,
                         "answers": [text(rnd, vocab, 40) for _ in range(3)]})
    return {"history.jsonl": history, "sessions.jsonl": sessions}


def curate(rnd, vocab):
    n = CURATE_DOCS
    n_junk = int(n * CURATE_JUNK_FRAC)
    docs, cluster = [], 0
    kinds = ["exact", "near", "chain"]
    planted_target = int(n * CURATE_PLANTED_FRAC)
    planted = 0
    while planted < planted_target:
        # fixed size and kind cycles: seeds change texts, not cluster shapes
        size = 2 + cluster % 4
        kind = kinds[cluster % 3]
        base = text(rnd, vocab, 300)
        members, prev = [base], base
        for _ in range(size - 1):
            if kind == "exact":
                prev = base
            elif kind == "near":
                prev = mutate(rnd, vocab, base, 2)
            else:  # chain: each member drifts from the previous one
                prev = mutate(rnd, vocab, prev, 4)
            members.append(prev)
        docs += [(t, cluster, kind) for t in members]
        planted += size
        cluster += 1
    for _ in range(n_junk):
        few = [rnd.choice(vocab) for _ in range(3)]
        docs.append((" ".join(rnd.choice(few) for _ in range(50)), -1, "junk"))
    while len(docs) < n:
        docs.append((text(rnd, vocab, 300), -1, "none"))
    ids = list(range(len(docs)))
    rnd.shuffle(ids)
    names, weights = zip(*CURATE_SOURCES)
    rows = [{"doc_id": ids[k], "source": rnd.choices(names, weights)[0], "text": t,
             "cluster": c, "ckind": kind} for k, (t, c, kind) in enumerate(docs)]
    rows.sort(key=lambda r: r["doc_id"])
    return {"corpus.jsonl": rows}


def stream(rnd, vocab):
    texts = set()

    def fresh_text():
        while True:
            t = text(rnd, vocab, 300)
            if t not in texts:
                texts.add(t)
                return t
    history = [{"doc_id": i, "text": fresh_text()} for i in range(STREAM_HISTORY)]
    next_id = STREAM_HISTORY
    batches, reads = [], []
    for seq in range(STREAM_BATCHES):
        if seq == STREAM_REPLAY_AT:
            prev = [r for r in batches if r["seq"] == seq - 1]
            batches += [dict(r, seq=seq) for r in prev]
        else:
            rows = []
            for _ in range(STREAM_NEW):
                rows.append({"doc_id": next_id, "text": fresh_text(), "plant": "new"})
                next_id += 1
            for src in rnd.sample(rows, STREAM_INTRA):
                rows.append({"doc_id": next_id, "text": src["text"], "plant": "intra_copy"})
                next_id += 1
            for h in rnd.sample(history, STREAM_CROSS):
                rows.append({"doc_id": next_id, "text": h["text"], "plant": "cross_copy"})
                next_id += 1
            for h in rnd.sample(history, STREAM_REDELIVER):
                rows.append({"doc_id": h["doc_id"], "text": h["text"], "plant": "redelivery"})
            batches += [dict(r, seq=seq, batch_id=seq) for r in rows]
        lo = rnd.randrange(0, next_id - 50)
        reads.append({"seq": seq, "point": rnd.randrange(0, STREAM_HISTORY),
                      "lo": lo, "hi": lo + 49, "back": rnd.randint(1, 3),
                      "lt": rnd.randrange(1, next_id)})
    return {"history.jsonl": history, "batches.jsonl": batches, "reads.jsonl": reads}


# curate_ingest runs batch curation and streaming ingest in one process
WORKLOADS = {"research_api": [research], "curate_ingest": [curate, stream]}


def generate(workload, seed, out_dir):
    """Write the workload's input files for `seed` into `out_dir`."""
    vocab = vocabulary()
    files = {}
    for part in WORKLOADS[workload]:
        rnd = random.Random("%s/%s/%d" % (workload, part.__name__, seed))
        files.update(part(rnd, vocab))
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in files.items():
        write_jsonl(os.path.join(out_dir, name), rows)
    return sorted(files)
