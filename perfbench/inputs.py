"""Seeded inputs and their independent references.

Everything here is computed from the seed alone, before the engine runs,
so a reference never depends on the code under test:

* ``edgar_mirror`` writes a synthetic EDGAR mirror (quarterly and daily
  ``master.idx`` files, the CIK-map JSON, filing containers with a
  heavy-tailed size mix and a Form-4 share) plus a ground-truth manifest
  of what the ingest pipeline must produce.
* ``minhash_inputs`` writes a near-duplicate-rich document slice and
  computes its MinHash pairs with DuckDB, using the shape of the engine's
  own ``q_minhash_chain`` oracle restricted to the seeded slice.

The shape parameters below (form mix, filing sizes, exhibits, missing
filings, lookups, document lengths, duplicate share) are set by hand, not
taken from measured EDGAR statistics. The filings are small (the median
main document is about 1 KB), so edgar-ingest is bound by per-file and
per-scan work, not by per-byte work.
"""

import datetime as dt
import hashlib
import json
import os
import random

import duckdb

VOCAB = ("a the data spark line column order small sort fast value scan hash "
         "slow group batch agg filter query big key window row part table "
         "stream merge join vector customer index ledger report filing quarter "
         "audit cash asset share price trade market fund risk").split()

# --------------------------------------------------------------------------
# documents (minhash-stream)
# --------------------------------------------------------------------------


def _derive(rng, words):
    """A near-duplicate of ``words``: a few substitutions, maybe a trim."""
    out = list(words)
    for _ in range(rng.randint(0, 3)):
        out[rng.randrange(len(out))] = rng.choice(VOCAB)
    if rng.random() < 0.3 and len(out) > 12:
        out = out[:len(out) - rng.randint(1, 4)]
    if rng.random() < 0.3:
        out += [rng.choice(VOCAB) for _ in range(rng.randint(1, 4))]
    return out


def make_documents(seed, n, dup_share=0.3):
    """``n`` documents of 8-90 words; ``dup_share`` of them derive from an
    earlier original, so families and near-duplicate pairs exist."""
    rng = random.Random(seed * 7919 + 17)
    originals, docs = [], []
    for i in range(n):
        if originals and rng.random() < dup_share:
            words = _derive(rng, rng.choice(originals))
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 90))]
            originals.append(words)
        docs.append((i, " ".join(words)))
    return docs


def write_documents(seed, n, out_dir):
    """Write ``documents.parquet`` (doc_id, text) and return the DuckDB
    connection that holds it as the ``documents`` table."""
    os.makedirs(out_dir, exist_ok=True)
    jl = os.path.join(out_dir, "documents.jsonl")
    with open(jl, "w") as f:
        for i, t in make_documents(seed, n):
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(text AS VARCHAR) AS text "
        f"FROM read_json('{jl}', format='newline_delimited', "
        "columns={'doc_id': 'BIGINT', 'text': 'VARCHAR'})")
    con.execute(f"COPY documents TO '{os.path.join(out_dir, 'documents.parquet')}' "
                "(FORMAT PARQUET)")
    os.remove(jl)
    return con


# q_minhash_chain's oracle (SimilarityQueries): exact word-3-shingle
# Jaccard over the whole slice, every pair at or above the threshold.
MINHASH_SQL = """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(w) - 1, 1)),
    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
  FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {threshold}
ORDER BY id_a, id_b"""


def minhash_inputs(seed, n, out_dir, threshold):
    """Documents plus ``minhash_ref.tsv``: id_a, id_b, exact Jaccard of
    every pair at or above ``threshold``."""
    con = write_documents(seed, n, out_dir)
    with open(os.path.join(out_dir, "minhash_ref.tsv"), "w") as f:
        for a, b, j in con.execute(MINHASH_SQL.format(threshold=threshold)).fetchall():
            f.write(f"{a}\t{b}\t{j!r}\n")


# --------------------------------------------------------------------------
# EDGAR mirror (edgar-ingest)
# --------------------------------------------------------------------------

# the query the pipeline runs: a range with edge days on both sides, so
# the combo planner emits daily scans, full quarters and a tail of days
RANGE_START = dt.date(2020, 3, 20)
RANGE_END = dt.date(2020, 10, 15)
KEEP_FORMS = ("4", "10-K", "10-Q", "8-K")
# set by hand, not measured (see the module docstring)
FORM_MIX = (("4", 30), ("8-K", 20), ("10-Q", 12), ("10-K", 4), ("S-1", 4),
            ("13F-HR", 8), ("SC 13G", 8), ("424B2", 8), ("DEF 14A", 6))


def _filler(rng, size=1 << 20):
    words = [rng.choice(VOCAB) for _ in range(size // 5)]
    return " ".join(words)


def _form4_xml(rng, n_txn):
    txns = []
    for _ in range(n_txn):
        txns.append(
            "<nonDerivativeTransaction>"
            "<securityTitle><value>Common Stock</value></securityTitle>"
            f"<transactionDate><value>2020-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}</value></transactionDate>"
            "<transactionCoding><transactionFormType>4</transactionFormType>"
            f"<transactionCode>{rng.choice('PSAMF')}</transactionCode>"
            "<equitySwapInvolved>0</equitySwapInvolved></transactionCoding>"
            f"<transactionAmounts><transactionShares><value>{rng.randint(1, 99999)}</value></transactionShares>"
            f"<transactionPricePerShare><value>{rng.randint(1, 999)}.{rng.randint(0, 99):02d}</value></transactionPricePerShare>"
            f"<transactionAcquiredDisposedCode><value>{rng.choice('AD')}</value></transactionAcquiredDisposedCode></transactionAmounts>"
            f"<postTransactionAmounts><sharesOwnedFollowingTransaction><value>{rng.randint(1, 999999)}</value></sharesOwnedFollowingTransaction></postTransactionAmounts>"
            f"<ownershipNature><directOrIndirectOwnership><value>{rng.choice('DI')}</value></directOrIndirectOwnership></ownershipNature>"
            "</nonDerivativeTransaction>")
    return ("<XML>\n<?xml version=\"1.0\"?>\n<ownershipDocument>"
            "<documentType>4</documentType><nonDerivativeTable>"
            + "".join(txns) + "</nonDerivativeTable></ownershipDocument>\n</XML>")


def _container(rng, filler, acc, form, day, company, cik):
    """One SEC-DOCUMENT container; returns (text, metadata key count,
    embedded document count, Form-4 transaction count)."""
    d8 = day.strftime("%Y%m%d")
    docs, n_txn = [], 0
    if form == "4":
        n_txn = rng.randint(1, 6)
        docs.append(("4", "form4.xml", _form4_xml(rng, n_txn)))
    else:
        # heavy-tailed main document (Pareto, alpha 1.2), capped
        size = min(int(600 * (1.0 - rng.random()) ** (-1 / 1.2)), 400_000)
        off = rng.randrange(len(filler) - size)
        docs.append((form, "main.htm", filler[off:off + size]))
        for k in range(rng.randint(0, 2)):
            size = rng.randint(200, 2000)
            off = rng.randrange(len(filler) - size)
            docs.append((f"EX-{k + 1}", f"ex{k + 1}.htm", filler[off:off + size]))
    parts = [f"<SEC-DOCUMENT>{acc}.txt : {d8}\n",
             f"<SEC-HEADER>{acc}.hdr.sgml : {d8}\n",
             f"<ACCEPTANCE-DATETIME>{d8}{rng.randint(60000, 215959):06d}\n",
             f"ACCESSION NUMBER:\t\t{acc}\n",
             f"CONFORMED SUBMISSION TYPE:\t{form}\n",
             f"PUBLIC DOCUMENT COUNT:\t\t{len(docs)}\n",
             f"FILED AS OF DATE:\t\t{d8}\n",
             "\nFILER:\n",
             "\n\tCOMPANY DATA:\t\n",
             f"\t\tCOMPANY CONFORMED NAME:\t\t\t{company}\n",
             f"\t\tCENTRAL INDEX KEY:\t\t\t{cik:010d}\n",
             "\n\tFILING VALUES:\n",
             f"\t\tFORM TYPE:\t\t{form}\n",
             "</SEC-HEADER>\n"]
    for seq, (typ, fname, text) in enumerate(docs, 1):
        parts.append(f"<DOCUMENT>\n<TYPE>{typ}\n<SEQUENCE>{seq}\n<FILENAME>{fname}\n"
                     f"<DESCRIPTION>{typ} document\n<TEXT>\n{text}\n</TEXT>\n</DOCUMENT>\n")
    parts.append("</SEC-DOCUMENT>\n")
    # the header as a metadata dict: five flat keys, FILER, documents;
    # FILER -> {COMPANY_DATA: 2 keys, FILING_VALUES: 1 key}; 3 per document
    n_keys = 7 + 2 + 2 + 1 + 3 * len(docs)
    return "".join(parts), n_keys, len(docs), n_txn


def edgar_mirror(seed, n_filings, n_companies, out_dir):
    """Write the mirror under ``out_dir/mirror`` and return the manifest
    (also written as ``out_dir/edgar_ref.json``)."""
    rng = random.Random(seed * 65537 + 11)
    filler = _filler(rng)
    root = os.path.join(out_dir, "mirror")
    ciks = rng.sample(range(1_000_000, 1_999_999), n_companies)
    tickers, companies = [], []
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    seen = set()
    for i in range(n_companies):
        while True:
            t = "".join(rng.choice(letters) for _ in range(rng.randint(3, 4)))
            if t not in seen:
                seen.add(t)
                break
        tickers.append(t)
        companies.append(f"{rng.choice(VOCAB).upper()} {t} HOLDINGS INC")
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "company_tickers.json"), "w") as f:
        json.dump({str(i): {"cik_str": ciks[i], "ticker": tickers[i],
                            "title": companies[i]} for i in range(n_companies)}, f)
    # lookups: ~60% of companies by ticker, title or digits, plus misses
    chosen = sorted(rng.sample(range(n_companies), int(n_companies * 0.6)))
    lookups = []
    for i in chosen:
        r = rng.random()
        lookups.append(tickers[i] if r < 0.6 else
                       companies[i].lower() if r < 0.85 else str(ciks[i]))
    lookups += ["NOSUCHCO", "ZZZZZZZ NONEXISTENT"]
    resolved = {ciks[i] for i in chosen}

    days = [dt.date(2020, 1, 1) + dt.timedelta(d) for d in range(366)]
    days = [d for d in days if d.weekday() < 5]
    forms = [f for f, w in FORM_MIX for _ in range(w)]
    by_day = {d: [] for d in days}

    def kept_by_query(day, cik, form):
        return RANGE_START <= day <= RANGE_END and form in KEEP_FORMS and cik in resolved

    # every seed keeps the same number of filings, the expected number
    # under independent draws, so per-filing rates compare across seeds;
    # which filings they are stays random
    n_keep = round(n_filings * len(chosen) / n_companies
                   * sum(RANGE_START <= d <= RANGE_END for d in days) / len(days)
                   * sum(f in KEEP_FORMS for f in forms) / len(forms))
    keep_flags = [k < n_keep for k in range(n_filings)]
    rng.shuffle(keep_flags)
    for k, keep in enumerate(keep_flags):
        while True:
            day = rng.choice(days)
            ci = rng.randrange(n_companies)
            form = rng.choice(forms)
            if kept_by_query(day, ciks[ci], form) == keep:
                break
        acc = f"{rng.randint(1, 1999999):010d}-20-{k:06d}"
        by_day[day].append((ciks[ci], companies[ci], form, acc))

    kept, form_counts = [], {}
    files = {}
    meta_files = meta_keys = embedded = txns = not_found = 0
    input_bytes = 0
    for day in days:
        for cik, company, form, acc in by_day[day]:
            if not kept_by_query(day, cik, form):
                continue
            kept.append(acc)
            form_counts[form] = form_counts.get(form, 0) + 1
            if rng.random() < 0.005:
                not_found += 1  # an index entry whose filing is missing
                continue
            text, nk, nd, nt = _container(rng, filler, acc, form, day, company, cik)
            data = text.encode()
            d = os.path.join(root, "Archives", "edgar", "data", str(cik))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{acc}.txt"), "wb") as f:
                f.write(data)
            input_bytes += len(data)
            files[f"{cik}/{acc}.txt"] = hashlib.sha256(data).hexdigest()
            meta_files += 1
            meta_keys += nk
            embedded += nd
            txns += nt

    header = ("Description:           Master Index of EDGAR Dissemination Feed\n"
              "Last Data Received:    {last}\n"
              "Comments:              webmaster@sec.gov\n"
              "Anonymous FTP:         ftp://ftp.sec.gov/edgar/\n\n\n\n\n"
              "CIK|Company Name|Form Type|Date Filed|Filename\n"
              + "-" * 80 + "\n")

    def idx_line(cik, company, form, day, acc, daily):
        date = day.strftime("%Y%m%d") if daily else day.isoformat()
        return f"{cik}|{company}|{form}|{date}|edgar/data/{cik}/{acc}.txt\n"

    for q in range(1, 5):
        qdays = [d for d in days if (d.month - 1) // 3 + 1 == q]
        p = os.path.join(root, "full-index", "2020", f"QTR{q}")
        os.makedirs(p, exist_ok=True)
        body = "".join(idx_line(c, n, fm, d, a, False)
                       for d in qdays for c, n, fm, a in by_day[d])
        text = header.format(last=qdays[-1].isoformat()) + body
        with open(os.path.join(p, "master.idx"), "w") as f:
            f.write(text)
        if q in (2, 3):  # the quarters the query scans whole
            input_bytes += len(text)
        for d in qdays:
            p = os.path.join(root, "daily-index", "2020", f"QTR{q}")
            os.makedirs(p, exist_ok=True)
            body = "".join(idx_line(c, n, fm, d, a, True) for c, n, fm, a in by_day[d])
            text = header.format(last=d.isoformat()) + body
            with open(os.path.join(p, f"master.{d.strftime('%Y%m%d')}.idx"), "w") as f:
                f.write(text)
            if RANGE_START <= d <= RANGE_END and d.month in (3, 10):
                input_bytes += len(text)  # an edge day the query scans
    # rows in the scanned range (Q2 + Q3 quarterly, edge days daily)
    idx_rows = sum(len(by_day[d]) for d in days
                   if RANGE_START <= d <= RANGE_END)

    manifest = {
        "range": [RANGE_START.isoformat(), RANGE_END.isoformat()],
        "keep_forms": list(KEEP_FORMS),
        "lookups": lookups,
        "in_range_rows": idx_rows,
        "kept": len(kept),
        "kept_accessions_sha256": hashlib.sha256(
            "\n".join(sorted(kept)).encode()).hexdigest(),
        "form_counts": form_counts,
        "not_found": not_found,
        "files": files,
        "meta_files": meta_files,
        "meta_keys": meta_keys,
        "embedded_docs": embedded,
        "form4_txns": txns,
        "input_bytes": input_bytes,
    }
    with open(os.path.join(out_dir, "edgar_ref.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
