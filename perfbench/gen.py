#!/usr/bin/env python3
"""Seeded input generator for the pipeline benchmark.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

Writes the workload's input under <dir> and a manifest.json that records
what a correct run must produce. The same seed gives byte-identical files:
every random draw comes from one random.Random(seed), zip entries carry a
fixed timestamp and directory listings are sorted.

Workloads:
  ingest_remote_vdb  <dir>/docs: small mixed-format files (txt, md, html,
                     docx, pdf, a sniffed-text .log), 16 ~1 MB .txt
                     files, and planted rejects (empty, oversize, binary
                     with an unknown extension).
  curate_p18         <dir>/documents.parquet with the testdata schema
                     (doc_id, text, lang, source, n_chars), with planted
                     exact and near duplicates.

The expected chunk counts are computed here from a separate statement of
the tokenizer rule (single leading space joins the next piece; runs of
letters, digits, whitespace or other characters form a piece; pieces over
16 characters split into 4-character pieces) and the EXACT window rule
(windows start every size-overlap tokens while the start is below the
token count), not from the program under test.
"""
import argparse
import hashlib
import io
import json
import math
import os
import random
import re
import zipfile
import zlib

# the testdata vocabulary (sf0.1 documents.parquet), plus generated
# pseudo-words so the large files are not 30-word texts
BASE_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
SYLLABLES = ["ka", "lo", "mer", "tin", "sa", "vor", "en", "qui", "dra", "pe",
             "ul", "rog", "bi", "nes", "to", "cha"]

CHUNK_SIZE, CHUNK_OVERLAP = 512, 256        # EXACT tokens, reference defaults
MAX_FILE_BYTES = 25 * 1024 * 1024           # intake size cap
ZIP_TIME = (2020, 1, 1, 0, 0, 0)

# ingest_remote_vdb shape; sizes depend only on the file index, so every
# seed yields the same token and chunk counts. 16 large files give each
# embedding group more than one 2048-text call (see README.md)
N_BIG, BIG_TOKENS = 16, 160_000
N_SMALL = 300
N_EMPTY, N_OVERSIZE, N_BINARY, N_SNIFFED = 6, 1, 8, 5
SMALL_FORMATS = ["txt", "md", "html", "docx", "pdf"]

# curate_p18 shape: half the sf0.1 documents table
P18_DOCS = 2_500
P18_EXACT_DUP_EVERY, P18_NEAR_DUP_EVERY = 23, 29
LANGS = ["en", "en", "en", "es", "fr", "zh", "de"]


# one token per match: an optional single space that joins a following
# non-space piece, then a run of letters, digits or other characters; or
# a run of whitespace (ASCII input only)
TOKEN = re.compile(r"(?: (?=\S))?(?:[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+)|\s+")


def count_tokens(text: str) -> int:
    count = 0
    for m in TOKEN.finditer(text):
        piece = m.end() - m.start()
        count += 1 if piece <= 16 else math.ceil(piece / 4)
    return count


def exact_chunks(text: str) -> int:
    return math.ceil(count_tokens(text) / (CHUNK_SIZE - CHUNK_OVERLAP))


def vocabulary(rng: random.Random) -> list:
    words = set(BASE_WORDS)
    while len(words) < 400:
        words.add("".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def docx_bytes(paragraphs) -> bytes:
    body = "".join(f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>" for p in paragraphs)
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>',
        "word/document.xml":
            '<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
            f"<w:body>{body}</w:body></w:document>",
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, content in parts.items():
            info = zipfile.ZipInfo(name, ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, content)
    return buf.getvalue()


def pdf_bytes(pages) -> bytes:
    """A minimal PDF: catalog, page tree, one Flate content stream per
    page with one Tj per line (a 0 -14 Td between lines)."""
    objs = []  # (number, body bytes)
    n_pages = len(pages)
    page_ids = [3 + 2 * k for k in range(n_pages)]
    objs.append((1, b"<< /Type /Catalog /Pages 2 0 R >>"))
    kids = " ".join(f"{p} 0 R" for p in page_ids)
    objs.append((2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()))
    for k, lines in enumerate(pages):
        ops = ["BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                ops.append("0 -14 Td")
            ops.append(f"({line}) Tj")
        ops.append("ET")
        data = zlib.compress("\n".join(ops).encode("latin-1"), 6)
        objs.append((page_ids[k], f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents {page_ids[k] + 1} 0 R >>".encode()))
        objs.append((page_ids[k] + 1,
                     f"<< /Length {len(data)} /Filter /FlateDecode >>\nstream\n".encode() + data + b"\nendstream"))
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num, body in objs:
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for num in sorted(offsets):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\nstartxref\n{xref}\n%%EOF\n".encode()
    return bytes(out)


def lines_of(ws, per_line):
    return [" ".join(ws[i:i + per_line]) for i in range(0, len(ws), per_line)]


def gen_ingest(seed: int, out: str) -> dict:
    rng = random.Random(seed)
    vocab = vocabulary(random.Random(0))  # same vocabulary for every seed
    docs = os.path.join(out, "docs")
    os.makedirs(docs)
    expected = {}   # filename -> {"chars": n, "chunks": n}

    def put(name, data: bytes, text=None):
        with open(os.path.join(docs, name), "wb") as f:
            f.write(data)
        if text is not None:
            expected[name] = {"chars": len(text), "chunks": exact_chunks(text)}

    for i in range(N_BIG):
        text = " ".join(rng.choices(vocab, k=BIG_TOKENS))
        put(f"long_{i:03d}.txt", text.encode(), text)

    for i in range(N_SMALL):
        fmt = SMALL_FORMATS[i % len(SMALL_FORMATS)]
        n = 150 + (i * 37) % 900
        ws = rng.choices(vocab, k=n)
        name = f"doc_{i:05d}.{fmt}"
        if fmt in ("txt", "md"):
            text = " ".join(ws)
            if fmt == "md":
                text = "# " + text
            put(name, text.encode(), text)
        elif fmt == "html":
            lines = lines_of(ws, 12)
            raw = "<html><body>\n" + "\n".join(f"<p>{l}</p>" for l in lines) + "\n</body></html>\n"
            put(name, raw.encode(), repr(raw))  # extraction is Python repr()
        elif fmt == "docx":
            paras = lines_of(ws, 40)
            put(name, docx_bytes(paras), "\n".join(paras))
        else:
            lines = lines_of(ws, 10)
            pages = [lines[k:k + 25] for k in range(0, len(lines), 25)]
            put(name, pdf_bytes(pages), "".join("\n".join(p) + "\n" for p in pages))

    for i in range(N_SNIFFED):  # unknown extension, UTF-8 text: kept
        text = " ".join(rng.choices(vocab, k=300 + 50 * i))
        put(f"notes_{i:02d}.log", text.encode(), text)
    for i in range(N_EMPTY):
        put(f"empty_{i:02d}.txt", b"")
    for i in range(N_OVERSIZE):
        put(f"oversize_{i:02d}.txt", b"oversize " * (MAX_FILE_BYTES // 9 + 1))
    for i in range(N_BINARY):  # unknown extension, not UTF-8: rejected
        put(f"blob_{i:02d}.bin", bytes(rng.randrange(128, 256) for _ in range(2048 + 97 * i)))

    files = sorted(os.listdir(docs))
    return {
        "workload": "ingest_remote_vdb",
        "seed": seed,
        "input_dir": "docs",
        # the file index skips zero-length files before the scan, so the
        # planted empty files are neither seen nor counted by intake
        "files_seen": len(files) - N_EMPTY,
        "empty_files": 0,
        "empty_files_planted": N_EMPTY,
        "oversize_files": N_OVERSIZE,
        "invalid_type_files": N_BINARY,
        "documents": dict(sorted(expected.items())),
        "expected_chunks": sum(d["chunks"] for d in expected.values()),
    }


def gen_p18(seed: int, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    texts = []
    for i in range(P18_DOCS):
        if i > 100 and i % P18_EXACT_DUP_EVERY == 0:
            texts.append(texts[rng.randrange(i)])
        elif i > 100 and i % P18_NEAR_DUP_EVERY == 0:
            ws = texts[rng.randrange(i)].split(" ")
            ws[rng.randrange(len(ws))] = "dup"
            texts.append(" ".join(ws))
        else:
            texts.append(" ".join(rng.choices(BASE_WORDS, k=rng.randint(10, 95))))
    table = pa.table({
        "doc_id": pa.array(range(P18_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[rng.randrange(len(LANGS))] for _ in range(P18_DOCS)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(P18_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"), compression="snappy")
    return {"workload": "curate_p18", "seed": seed, "input_dir": ".", "documents": P18_DOCS}


GENERATORS = {"ingest_remote_vdb": gen_ingest, "curate_p18": gen_p18}


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](seed, os.path.abspath(out))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for name in sorted(fs):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
    print(tree_digest(a.out))
