"""Seeded input generators. Every byte the engine sees in a benchmark
run comes from here: the same seed gives the same files and events."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

GATE_TAGS = {"gdpr-scan": "true", "APP_ID": "bench", "Data Subjects": "customers"}
#: source types of the pre-existing tracker rows (the pipeline under
#: test onboards, registers and classifies path sources of type s3)
OTHER_TYPES = ("rds", "ddb")


def tracker_seed(rng: np.random.Generator, n: int) -> list[tuple[str, dict, bool, bool]]:
    """``n`` pre-existing sources of :data:`OTHER_TYPES`: (source_type,
    attrs, cataloged, classified). Flags follow the tracker's state
    machine, so a source is only ever classified once cataloged."""
    out = []
    for i in range(n):
        st = OTHER_TYPES[int(rng.integers(len(OTHER_TYPES)))]
        cataloged = bool(rng.random() < 0.6)
        classified = cataloged and bool(rng.random() < 0.5)
        attrs = {"connection": f"{st}-conn-{i:05d}", "name": f"seed_{i:05d}"}
        out.append((st, attrs, cataloged, classified))
    return out


# -- discover_classify -------------------------------------------------------


def _ssn(rng, n):
    a, b, c = rng.integers(100, 900, n), rng.integers(10, 100, n), rng.integers(1000, 10000, n)
    return [f"{x:03d}-{y:02d}-{z:04d}" for x, y, z in zip(a, b, c)]


def _email(rng, n):
    u, d = rng.integers(0, 10**6, n), rng.integers(0, 50, n)
    return [f"user{x}@mail{y}.example.com" for x, y in zip(u, d)]


def _ip(rng, n):
    o = rng.integers(1, 255, (n, 4))
    return [f"{a}.{b}.{c}.{d}" for a, b, c, d in o]


def _phone(rng, n):
    a, b, c = rng.integers(200, 999, n), rng.integers(200, 999, n), rng.integers(1000, 9999, n)
    return [f"+1 {x}-{y}-{z}" for x, y, z in zip(a, b, c)]


_WORDS = np.array(
    "alpha bravo delta echo harbor meadow river stone timber velvet amber "
    "cobalt lantern orchard quartz saffron summit willow".split()
)


def _words(rng, n, k=4):
    picks = _WORDS[rng.integers(0, len(_WORDS), (n, k))]
    return [" ".join(p) for p in picks]


#: planted column -> entity it must be classified as
CSV_PLANTED = {
    "customer_ssn": "USA_SSN",
    "contact_email": "EMAIL",
    "client_ip": "IP_ADDRESS",
    "phone": "PHONE_NUMBER",
}


def csv_frame(rng, n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "order_id": rng.integers(0, 10**9, n),
            "customer_ssn": _ssn(rng, n),
            "contact_email": _email(rng, n),
            "client_ip": _ip(rng, n),
            "phone": _phone(rng, n),
            "notes": _words(rng, n),
        }
    )


def write_csv_files(rng, root: str, rows: int, files: int, start: int = 0) -> int:
    os.makedirs(root, exist_ok=True)
    per = rows // files
    for f in range(files):
        csv_frame(rng, per).to_csv(os.path.join(root, f"part-{start + f:03d}.csv"), index=False)
    return per * files


# -- corpus_dedup ------------------------------------------------------------

_VOCAB = np.array(
    [f"{a}{b}" for a in ("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo") for b in ("n", "r", "s", "t", "x", "l", "m", "d")]
)


def corpus(rng: np.random.Generator, docs: int, new_every: int) -> pd.DataFrame:
    """A stream of ``docs`` documents, ids increasing with arrival. Every
    ``new_every``-th arrival is a new random document, the others are
    near-duplicate copies of a random earlier new one (the copy appends a
    tag token, Jaccard ~0.95). New documents arrive throughout the
    stream, so every id range mixes new documents and copies, in the same
    proportion for every seed."""
    originals: list[str] = []
    copies: list[int] = []
    texts = []
    for t in range(docs):
        if t % new_every == 0:
            k = int(rng.integers(20, 90))
            originals.append(" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]))
            copies.append(0)
            texts.append(originals[-1])
        else:
            o = int(rng.integers(len(originals)))
            copies[o] += 1
            texts.append(f"{originals[o]} copytag{copies[o]}")
    return pd.DataFrame({"doc_id": np.arange(docs, dtype=np.int64), "text": texts})


def write_jsonl(frame: pd.DataFrame, root: str, files: int) -> None:
    """``frame`` as JSON-lines files (the corpus arrives as JSONL)."""
    os.makedirs(root, exist_ok=True)
    for i, part in enumerate(np.array_split(frame, files)):
        part.to_json(os.path.join(root, f"part-{i:03d}.json"), orient="records", lines=True)
