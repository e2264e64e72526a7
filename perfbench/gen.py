"""Seeded input generators for the two workloads.

Each generator writes into an empty directory and depends only on its seed:
the same seed gives byte-identical inputs, another seed different ones.
Sizes are fixed here and recorded in BENCHMARK.json's neighbour README.md.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bbdc: 3 subjects x 2 trials x 4 s; every EMG series is 2400 samples long
BBDC_SUBJECTS = 3
BBDC_TRIALS = 2
BBDC_SECONDS = 4
EMG_HZ = 600
MOCAP_HZ = 100
CLASSES = ["idle", "reach", "grasp", "lift", "hold", "release"]
# the pipeline's feature window; a class lasts at least two windows
STEP_MS = 200
MIN_CLASS_STEPS = 2

# registry's streaming ingest: 4 files (one micro-batch each) of 30
# documents over 5 languages (StreamIngest.Files must match)
STREAM_FILES = 4
STREAM_DOCS_PER_FILE = 30
PROFILE_DOCS_PER_LANG = 150
LANGS = ["ar", "bo", "ci", "du", "ek"]
STOPWORDS = ["the", "a", "of", "to", "in"]


def _write(table_cols, path):
    pq.write_table(pa.table(table_cols), path)


def _runs_of_nulls(rng, n, runs, max_len):
    """Boolean mask with `runs` NULL runs of 1..max_len samples."""
    mask = np.zeros(n, dtype=bool)
    for start in rng.integers(0, n, size=runs):
        mask[start:start + rng.integers(1, max_len + 1)] = True
    return mask


def bbdc(out, seed):
    """Label intervals, 8-channel 600 Hz EMG and 8-column 100 Hz mocap.

    Each arm's action drives four EMG channels (left arm ch1-ch4, right arm
    ch5-ch8) and that hand's mocap position. On the first three channels of
    an arm a class has a distinct 3-bit code of low/high amplitude (codes
    assigned by the seed); the fourth channel is their mean, so it can be
    repaired from them. Channel ch8 of the first subject is broken (near
    zero) and is repaired from the healthy channels. EMG and mocap carry
    NULL runs for the cleaning stage.
    """
    rng = np.random.default_rng(seed)
    subjects = [f"s{i + 1:02d}" for i in range(BBDC_SUBJECTS)]
    trials = [f"t{i + 1:02d}" for i in range(BBDC_TRIALS)]
    codes = [rng.permutation(np.arange(1, 7)) for _ in range(2)]
    emg_profile = np.array([[[0.5 + 2.0 * ((code[c] >> k) & 1) for k in range(3)]
                             for c in range(len(CLASSES))] for code in codes])
    hand_profile = rng.uniform(-40.0, 40.0, size=(2, len(CLASSES), 3))
    labels = {"key": [], "start_s": [], "end_s": [], "action": []}
    emg = {"subject": [], "trial": [], "ts_ms": []}
    emg.update({f"ch{c + 1}": [] for c in range(8)})
    mocap_cols = [f"{h}_Position_{a}" for h in ("LHand", "RHand") for a in "XYZ"] + \
        ["Chest_Position_X", "Chest_Position_Z"]
    mocap = {"subject": [], "trial": [], "ts_ms": []}
    mocap.update({c: [] for c in mocap_cols})
    dur_ms = BBDC_SECONDS * 1000
    for s in subjects:
        for t in trials:
            # per arm: every class once, in a seeded order, as contiguous
            # intervals of seeded length that end at the recording's end;
            # edges fall on the 200 ms feature grid, so every window holds
            # one class and its planted label is well defined
            cls_at = []
            for arm_i, arm in enumerate(("la", "ra")):
                cls = rng.permutation(len(CLASSES))
                steps = MIN_CLASS_STEPS + rng.multinomial(
                    dur_ms // STEP_MS - MIN_CLASS_STEPS * len(CLASSES),
                    rng.dirichlet(np.full(len(CLASSES), 4.0)))
                edges = [0] + (np.cumsum(steps) * STEP_MS).tolist()
                for a, b, c in zip(edges, edges[1:], cls):
                    labels["key"].append(f"{s}{t}.{arm}")
                    labels["start_s"].append(a / 1000.0)
                    labels["end_s"].append(b / 1000.0)
                    labels["action"].append(f"{arm}-{CLASSES[c]}")
                cls_at.append((np.array(edges), np.array(cls)))

            def classes_at(ts, arm_i):
                edges, cls = cls_at[arm_i]
                return cls[np.clip(np.searchsorted(edges, ts, side="right") - 1, 0, len(cls) - 1)]

            n = BBDC_SECONDS * EMG_HZ
            ts = (np.arange(n) * 1000) // EMG_HZ
            emg["subject"] += [s] * n
            emg["trial"] += [t] * n
            emg["ts_ms"] += ts.tolist()
            for arm_i in range(2):
                amp = emg_profile[arm_i][classes_at(ts, arm_i)]
                vs = [amp[:, k] * (1.0 + 0.3 * rng.standard_normal(n)) for k in range(3)]
                vs.append(sum(vs) / 3.0 + 0.05 * rng.standard_normal(n))
                for k, v in enumerate(vs):
                    ch = arm_i * 4 + k
                    if ch == 7 and s == subjects[0]:
                        v = 0.01 * rng.standard_normal(n)
                    v = np.where(_runs_of_nulls(rng, n, 6, 60), np.nan, v)
                    emg[f"ch{ch + 1}"] += [None if np.isnan(x) else float(x) for x in v]
            m = BBDC_SECONDS * MOCAP_HZ
            mts = np.arange(m) * (1000 // MOCAP_HZ)
            mocap["subject"] += [s] * m
            mocap["trial"] += [t] * m
            mocap["ts_ms"] += mts.tolist()
            chest = {a: 1000.0 + np.cumsum(rng.standard_normal(m) * 0.5) for a in "XZ"}
            for arm_i, h in enumerate(("LHand", "RHand")):
                pos = hand_profile[arm_i][classes_at(mts, arm_i)]
                for j, a in enumerate("XYZ"):
                    v = pos[:, j] + rng.standard_normal(m) * 2.0 + (chest[a] if a in chest else 0.0)
                    v = np.where(_runs_of_nulls(rng, m, 3, 20), np.nan, v)
                    mocap[f"{h}_Position_{a}"] += [None if np.isnan(x) else float(x) for x in v]
            for a in "XZ":
                mocap[f"Chest_Position_{a}"] += chest[a].tolist()
    _write(labels, os.path.join(out, "labels.parquet"))
    _write({k: pa.array(v, pa.int64() if k == "ts_ms" else None) for k, v in emg.items()},
           os.path.join(out, "emg.parquet"))
    _write({k: pa.array(v, pa.int64() if k == "ts_ms" else None) for k, v in mocap.items()},
           os.path.join(out, "mocap.parquet"))
    with open(os.path.join(out, "meta.txt"), "w") as f:
        f.write(f"subjects={','.join(subjects)}\nbroken_channel=ch8\nbroken_subjects={subjects[0]}\n")


def _vocab(rng, lang):
    """300 words from syllables seeded per language, so profiles separate."""
    cons = "bcdfghjklmnprstvz"
    syll = [lang[0] + v for v in "aeiou"] + [rng.choice(list(cons)) + lang[1] for _ in range(6)]
    words = set()
    while len(words) < 300:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _word(rng, vocab):
    """A stopword, a Zipf-like draw from the 40 most common words, or any word."""
    if rng.random() < 0.12:
        return rng.choice(STOPWORDS)
    if rng.random() < 0.5:
        return vocab[min(int(rng.paretovariate(1.2)), 40) - 1]
    return rng.choice(vocab)


def _doc(rng, vocab):
    return " ".join(_word(rng, vocab) for _ in range(rng.randint(20, 60)))


def stream(out, seed):
    """A profile-fitting corpus and a stream of STREAM_FILES parquet files.

    Stream documents are mostly clean text in their labelled language, with
    planted cases for every gate: mislabelled language, repetitive spam,
    stopword-heavy text, documents under 3 tokens, and re-ingest duplicates
    of an earlier file's document under a new id (identical text or extra
    outer whitespace, which the fingerprint normalises away). File i gets
    modification time base + i seconds, so the source reads them in order.
    """
    rng = random.Random(seed)
    vocabs = {lang: _vocab(rng, lang) for lang in LANGS}
    prof = {"doc_id": [], "lang": [], "text": []}
    for lang in LANGS:
        for _ in range(PROFILE_DOCS_PER_LANG):
            prof["doc_id"].append(len(prof["doc_id"]))
            prof["lang"].append(lang)
            prof["text"].append(_doc(rng, vocabs[lang]))
    _write({"doc_id": pa.array(prof["doc_id"], pa.int64()), "lang": prof["lang"], "text": prof["text"]},
           os.path.join(out, "profile_docs.parquet"))
    sdir = os.path.join(out, "stream")
    os.makedirs(sdir)
    base_ts = 1_700_000_000_000_000  # microseconds
    earlier = []  # (text, lang) of documents in previous files
    next_id = 1_000_000
    for f in range(STREAM_FILES):
        rows = {"doc_id": [], "lang": [], "text": [], "ts": []}
        texts_here = set()
        for j in range(STREAM_DOCS_PER_FILE):
            lang = rng.choice(LANGS)
            kind = rng.random()
            if kind < 0.10 and earlier:
                text, lang = rng.choice(earlier)
                text = text if rng.random() < 0.5 else "  " + text + " "
            elif kind < 0.14:
                text = _doc(rng, vocabs[rng.choice([x for x in LANGS if x != lang])])
            elif kind < 0.18:
                w = rng.sample(vocabs[lang], 2)
                text = " ".join(w * rng.randint(8, 20))
            elif kind < 0.21:
                text = " ".join(rng.choice(STOPWORDS) for _ in range(rng.randint(10, 30)))
            elif kind < 0.23:
                text = rng.choice(vocabs[lang])
            else:
                text = _doc(rng, vocabs[lang])
            norm = " ".join(text.split()).lower()
            if norm in texts_here:  # at most one copy of a fingerprint per file
                text = _doc(rng, vocabs[lang])
                norm = " ".join(text.split()).lower()
            texts_here.add(norm)
            rows["doc_id"].append(next_id)
            next_id += 1
            rows["lang"].append(lang)
            rows["text"].append(text)
            rows["ts"].append(base_ts + (f * 1000 + j) * 1000)
        earlier += [(t, l) for t, l in zip(rows["text"], rows["lang"]) if t.strip()]
        path = os.path.join(sdir, f"part-{f:05d}.parquet")
        _write({"doc_id": pa.array(rows["doc_id"], pa.int64()), "lang": rows["lang"],
                 "text": rows["text"], "ts": pa.array(rows["ts"], pa.timestamp("us", tz="UTC"))}, path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))


def registry(out, seed, tables, expected):
    """The seeded order of the registry queries listed in `expected`, and
    the corpus of the streaming ingest that follows them."""
    names = [line.split("\t")[1] for line in open(expected) if not line.startswith("#")]
    random.Random(seed).shuffle(names)
    with open(os.path.join(out, "order.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    with open(os.path.join(out, "meta.txt"), "w") as f:
        f.write(f"tables={tables}\nexpected={expected}\n")
    stream(out, seed)
