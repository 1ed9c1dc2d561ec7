"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of (workload, seed): it writes plain
files (CSV, JSON lines) under one directory and nothing else. The
program under test only ever sees these files. `expected.json` beside
the inputs carries what the generator planted (row counts, planted
duplicate groups, expected new documents), which the benchmark uses to
check the program's outputs.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import json
import os
import random
import shutil
import string
import sys

# Bump when any generator's output changes, so cached inputs regenerate.
GEN_VERSION = "g7"

WORKLOADS = ("etl_warehouse", "corpus_curation", "ann_serving")

# ---------------------------------------------------------------- sizes
ETL_BATCHES = 2           # batch 0 is the set-up load, batch 1 is measured
ETL_SALES_ROWS = (8000, 4000)  # airlinesales rows of batch 0, later batches
ETL_RESEND_SHARE = 0.3    # share of a later batch that re-sends old keys
ETL_FLIGHT_ROWS = 800
ETL_PASSENGER_ROWS = 800
ETL_TRANSACTION_ROWS = 800
ETL_AIRLINE_ROWS = 40

CORPUS_SHARDS = 6
CORPUS_BASE_DOCS = 500    # unique base documents per shard
CORPUS_EXACT_COPIES = 60  # planted exact duplicates per shard
CORPUS_NEAR_REPLICAS = 30 # planted one-token-swap near duplicates
CORPUS_CHAINS = (6, 9, 12)  # planted near-dup chain lengths per shard
CORPUS_INCS = 4           # increments per shard
CORPUS_INC_DOCS = 50      # docs per increment
CORPUS_INC_COPY_SHARE = 0.3

ANN_DIM = 32
ANN_CLUSTERS = 16
ANN_PER_CLUSTER = 250
ANN_WRITES = 160          # pre-generated write ops (more than a run uses)
ANN_WRITE_ROWS = 24       # vectors (or ids) per write op
ANN_PANELS = 1200         # pre-generated search panels
ANN_PANEL_QUERIES = 4
ANN_RECALL_QUERIES = 12   # fixed recall panel, drawn from cluster 0

STREAM_FLIGHTS = 400
STREAM_REQUESTS = 300     # request files (more than a run uses)
STREAM_CORRUPT_EVERY = 5  # every 5th request file also has a corrupt line

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]


def _rng(workload, seed, part=""):
    return random.Random(f"{GEN_VERSION}:{workload}:{seed}:{part}")


def _write_csv(path, header, rows):
    import csv
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _word(r, lo=3, hi=9):
    return "".join(r.choice(string.ascii_lowercase)
                   for _ in range(r.randint(lo, hi)))


def _money(r, v):
    s = f"{v:,.2f}" if r.random() < 0.5 else f"{v:.2f}"
    return "$" + s if r.random() < 0.5 else s


# ---------------------------------------------------------------- ETL
def gen_etl(seed, out):
    r = _rng("etl_warehouse", seed)
    letters = string.ascii_uppercase
    airline_keys = sorted({r.choice(letters) + r.choice(letters)
                           for _ in range(40)})[:20]
    airports = sorted({"".join(r.choice(letters) for _ in range(3))
                       for _ in range(80)})[:60]
    os.makedirs(os.path.join(out, "dims"))
    _write_csv(os.path.join(out, "dims", "airlines.csv"),
               ["airlinekey", "airlinename", "alliance"],
               [[k, f"Airline {k}", "None"] for k in airline_keys])
    _write_csv(os.path.join(out, "dims", "airports.csv"),
               ["airportkey", "airportname", "city"],
               [[a, f"Airport {a}", f"City {a}"] for a in airports])
    fares = ["Economy", "Premium", "Business", "First"]
    sold = []          # booking references already sent
    counts = {}
    date_formats = [lambda y, m, d: f"{y}-{m:02d}-{d:02d}",
                    lambda y, m, d: f"{m:02d}/{d:02d}/{y}",
                    lambda y, m, d: f"{d:02d}-{['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct','Nov','Dec'][m-1]}-{y % 100:02d}",
                    lambda y, m, d: f"{y}/{['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct','Nov','Dec'][m-1]}/{d:02d}"]

    def flight_id():
        return r.choice(airline_keys) + str(r.randint(1, 9999))

    def pax_id():
        return f"P{r.randint(0, 8)}{r.randint(0, 9999):04d}"

    for b in range(ETL_BATCHES):
        bd = os.path.join(out, f"batch{b:03d}")
        os.makedirs(bd)
        files = {}
        # airlines: lowercase / padded / overlong keys, dups, alliance variants
        rows = []
        for i in range(ETL_AIRLINE_ROWS):
            k = r.choice(airline_keys)
            fault = r.random()
            if fault < 0.1:
                k = k.lower()
            elif fault < 0.2:
                k = "  " + k + " "
            elif fault < 0.25:
                k = k + "XYZ"
            name = r.choice([f"airline {k.strip().lower()}", f"  AIRLINE   {k.strip()}",
                             f"Air {k.strip()} & Co.", f"Bad#Name{i}"])
            alliance = r.choice(["sky team", "SkyTeam", "staralliance", "Star Alliance",
                                 "one world", "Oneworld", "", "nan", "Other"])
            rows.append([k, name, alliance])
        files["airlines"] = (["AirlineKey", "AirlineName", "Alliance"], rows)
        # flights: bad prefixes, near-miss airports, JK, origin == dest, dups
        rows = []
        for i in range(ETL_FLIGHT_ROWS):
            fk = flight_id()
            fault = r.random()
            if fault < 0.05 and rows:
                fk = rows[-1][0]                      # duplicate key
            elif fault < 0.1:
                fk = fk[0] + r.choice(letters) + fk[2:]  # prefix near a real key
            o, d = r.sample(airports, 2)
            f2 = r.random()
            if f2 < 0.05:
                o = "JK"
            elif f2 < 0.1:
                d = o                                  # origin == dest
            elif f2 < 0.15:
                o = o[:2] + r.choice(letters)          # near-miss code
            rows.append([fk, o, d, r.choice(["boeing  737", "AIRBUS a320", "Embraer E190 ", "boeing 787"])])
        files["flights"] = (["FlightKey", "OriginAirportKey", "DestinationAirportKey", "AircraftType"], rows)
        # passengers: nulls, single-word names, key digits in email, loyalty variants
        rows = []
        for i in range(ETL_PASSENGER_ROWS):
            pk = f"PK{b:03d}{i:05d}"
            first, last = _word(r, 3, 8).title(), _word(r, 3, 10).title()
            name = f"{first} {last}"
            email = f"{first.lower()}.{last.lower()}{pk[2:]}@example.com"
            fault = r.random()
            if fault < 0.05:
                pk = ""
            elif fault < 0.1:
                name = first
            elif fault < 0.15:
                email = email.replace("example.com", "mail.net")
            elif fault < 0.2 and rows:
                name, email = rows[-1][1], rows[-1][2]  # dup (name, email, status)
            status = r.choice(["Gold", "GOLD!", "sil ver", "Bronze", "platinum", "Unknown"])
            if fault >= 0.15 and fault < 0.2 and rows:
                status = rows[-1][3]
            rows.append([pk, name, email, status])
        files["passengers"] = (["PassengerKey", "FullName", "Email", "LoyaltyStatus"], rows)
        # transactions: non-numeric ids, dups, bad passengers, money formats, mixed dates
        rows = []
        for i in range(ETL_TRANSACTION_ROWS):
            tid = str(40000 + (b * ETL_TRANSACTION_ROWS + i) % 10000)
            y, m, d = r.choice([2023, 2024]), r.randint(1, 12), r.randint(1, 28)
            date = r.choice(date_formats)(y, m, d)
            price = round(r.uniform(50, 2500), 2)
            tax = round(price * 0.1, 2)
            bag = round(r.choice([0, 25, 50]), 2)
            pax, fl = pax_id(), flight_id()
            fault = r.random()
            if fault < 0.03:
                tid = "4" + r.choice(letters) + r.choice(letters)
            elif fault < 0.06:
                pax = ""
            elif fault < 0.09:
                pax = "P9" + f"{r.randint(0, 9999):04d}"
            elif fault < 0.11:
                fl = ""
            row = [tid, date, pax, fl, _money(r, price), _money(r, tax),
                   _money(r, bag), _money(r, price + tax + bag)]
            rows.append(row)
            if fault > 0.97:
                rows.append(list(row))                # whole-row duplicate
        files["transactions"] = (["TransactionID", "TransactionDate", "PassengerID", "FlightID",
                                  "TicketPrice", "Taxes", "BaggageFees", "TotalAmount"], rows)
        # airlinesales: the warehouse feed; later batches re-send old keys
        rows = []
        n_resend = int(ETL_SALES_ROWS[1] * ETL_RESEND_SHARE) if b > 0 else 0
        for ref in r.sample(sold, min(n_resend, len(sold))):
            rows.append([ref, pax_id(), flight_id(), r.choice(fares),
                         _money(r, round(r.uniform(50, 2500), 2))])
        while len(rows) < ETL_SALES_ROWS[min(b, 1)]:
            ref = f"BK{b:03d}{len(rows):06d}"
            sold.append(ref)
            rows.append([ref, pax_id(), flight_id(), r.choice(fares),
                         _money(r, round(r.uniform(50, 2500), 2))])
        for i in range(len(rows) // 50):              # planted faults
            j = r.randrange(len(rows))
            if i % 2 == 0:
                rows[j] = [""] + rows[j][1:]          # missing booking ref
            else:
                rows.append(list(rows[j]))            # duplicate booking ref
        files["airlinesales"] = (["TransactionID", "PassengerID", "FlightID", "FareClass",
                                  "TicketPrice"], rows)
        for name, (header, rows) in files.items():
            if b == 0 and name != "airlinesales":
                continue   # the first warehouse load carries airline sales only
            p = os.path.join(bd, f"{name}.csv")
            _write_csv(p, header, rows)
            counts[f"batch{b:03d}/{name}"] = len(rows)
    gen_stream(seed, os.path.join(out, "stream"))
    return {"rows": counts, "batches": ETL_BATCHES}


# ---------------------------------------------------------------- corpus
def _doc(r, vocab, n):
    toks = []
    for _ in range(n):
        toks.append(r.choice(STOPWORDS) if r.random() < 0.25 else r.choice(vocab))
    return " ".join(toks)


def gen_corpus(seed, out):
    r = _rng("corpus_curation", seed)
    vocab = sorted({_word(r) for _ in range(4000)})
    shards = []
    for s in range(CORPUS_SHARDS):
        base = 1_000_000 * (s + 1)
        docs = []   # (doc_id, text, source)
        for i in range(CORPUS_BASE_DOCS):
            docs.append((base + i, _doc(r, vocab, r.randint(70, 110)), "web"))
        unique = list(range(CORPUS_BASE_DOCS))
        r.shuffle(unique)
        copy_src = unique[:CORPUS_EXACT_COPIES]
        near_src = unique[CORPUS_EXACT_COPIES:CORPUS_EXACT_COPIES + CORPUS_NEAR_REPLICAS]
        safe = sorted(unique[CORPUS_EXACT_COPIES + CORPUS_NEAR_REPLICAS:])
        nid = base + 100_000
        for i in copy_src:
            docs.append((nid, docs[i][1], "copy")); nid += 1
        for i in near_src:
            toks = docs[i][1].split(" ")
            j = r.randrange(len(toks))
            toks[j] = _word(r) + "q"
            docs.append((nid, " ".join(toks), "near")); nid += 1
        chains = {}
        for c, length in enumerate(CORPUS_CHAINS):
            pool = [r.choice(STOPWORDS) if r.random() < 0.25 else r.choice(vocab)
                    for _ in range(92 + 7 * length)]
            ids = []
            for i in range(length):
                docs.append((nid, " ".join(pool[i * 7:i * 7 + 92]), f"chain{c}"))
                ids.append(nid); nid += 1
            chains[f"chain{c}"] = ids
        r.shuffle(docs)
        with open(os.path.join(out, f"shard{s}.jsonl"), "w", encoding="utf-8") as f:
            for d in docs:
                f.write(json.dumps({"doc_id": d[0], "text": d[1], "source": d[2]}) + "\n")
        # increments: new docs plus exact copies of docs curation must keep
        by_id = {d[0]: d for d in docs}
        copies = r.sample(safe, CORPUS_INCS * int(CORPUS_INC_DOCS * CORPUS_INC_COPY_SHARE))
        incs, nid = [], base + 500_000
        for j in range(CORPUS_INCS):
            n_copy = int(CORPUS_INC_DOCS * CORPUS_INC_COPY_SHARE)
            inc, expect_new = [], []
            for i in copies[j * n_copy:(j + 1) * n_copy]:
                inc.append((nid, by_id[base + i][1])); nid += 1
            while len(inc) < CORPUS_INC_DOCS:
                inc.append((nid, _doc(r, vocab, r.randint(70, 110))))
                expect_new.append(nid); nid += 1
            r.shuffle(inc)
            with open(os.path.join(out, f"inc{s}-{j}.jsonl"), "w", encoding="utf-8") as f:
                for d in inc:
                    f.write(json.dumps({"doc_id": d[0], "text": d[1]}) + "\n")
            incs.append({"docs": len(inc), "new": sorted(expect_new)})
        shards.append({"docs": len(docs), "chains": chains, "incs": incs})
    return {"shards": shards}


# ---------------------------------------------------------------- ANN
def gen_ann(seed, out):
    r = _rng("ann_serving", seed)
    centers = []
    for _ in range(ANN_CLUSTERS):
        v = [r.gauss(0, 1) for _ in range(ANN_DIM)]
        n = sum(x * x for x in v) ** 0.5
        centers.append([12.0 * x / n for x in v])

    def point(c, sd=1.0):
        return [round(x + r.gauss(0, sd), 4) for x in centers[c]]

    with open(os.path.join(out, "vectors.jsonl"), "w", encoding="utf-8") as f:
        vid = 0
        # the first ANN_CLUSTERS rows are one per cluster: the coarse centroids
        for c in range(ANN_CLUSTERS):
            f.write(json.dumps({"vec_id": vid, "embedding": point(c, 0.2)}) + "\n"); vid += 1
        for c in range(ANN_CLUSTERS):
            for _ in range(ANN_PER_CLUSTER - 1):
                f.write(json.dumps({"vec_id": vid, "embedding": point(c)}) + "\n"); vid += 1
    n_base = vid
    # ids in cluster 0 are never written, so the recall panel's true
    # neighbourhoods stay fixed while the rest of the index churns
    writable = [i for i in range(ANN_CLUSTERS, n_base)
                if (i - ANN_CLUSTERS) // (ANN_PER_CLUSTER - 1) != 0]
    r.shuffle(writable)
    next_id = 1_000_000
    with open(os.path.join(out, "writes.jsonl"), "w", encoding="utf-8") as f:
        for w in range(ANN_WRITES):
            kind = ["append", "delete", "upsert", "compact"][w % 4]
            if kind == "compact":
                rows = []
            elif kind == "append":
                rows = [{"vec_id": next_id + i,
                         "embedding": point(r.randint(1, ANN_CLUSTERS - 1))}
                        for i in range(ANN_WRITE_ROWS)]
                next_id += ANN_WRITE_ROWS
            elif kind == "upsert":
                ids = [writable.pop() for _ in range(ANN_WRITE_ROWS)]
                rows = [{"vec_id": i, "embedding": point(r.randint(1, ANN_CLUSTERS - 1))}
                        for i in ids]
            else:
                rows = [{"vec_id": writable.pop()} for _ in range(ANN_WRITE_ROWS)]
            f.write(json.dumps({"kind": kind, "rows": rows}) + "\n")
    with open(os.path.join(out, "panels.jsonl"), "w", encoding="utf-8") as f:
        for _ in range(ANN_PANELS):
            f.write(json.dumps([point(r.randrange(ANN_CLUSTERS))
                                for _ in range(ANN_PANEL_QUERIES)]) + "\n")
    with open(os.path.join(out, "recall_panel.jsonl"), "w", encoding="utf-8") as f:
        for _ in range(ANN_RECALL_QUERIES):
            f.write(json.dumps(point(0)) + "\n")
    return {"base_vectors": n_base, "dim": ANN_DIM, "nlist": ANN_CLUSTERS}


# ---------------------------------------------------------------- stream
def gen_stream(seed, out):
    r = _rng("eligibility_stream", seed)
    os.makedirs(out)
    flights = []
    for i in range(STREAM_FLIGHTS):
        fn = f"{r.choice(['AA', 'DL', 'UA', 'BA'])}{1000 + i}"
        for h in range(r.randint(1, 3)):        # history: older rows first
            day = 1 + h * 3
            sched = f"2024-03-{day:02d} {r.randint(5, 20):02d}:{r.choice([0, 15, 30, 45]):02d}:00"
            shape = r.random()
            if shape < 0.08:
                actual = ""
            elif shape < 0.14:
                actual = "not-a-timestamp"
            else:
                hh, mm = int(sched[11:13]), int(sched[14:16])
                delay = r.choice([0, 15, 45, 90, 119, 120, 121, 180, 240])
                tot = hh * 60 + mm + delay
                actual = f"2024-03-{day + tot // 1440:02d} {(tot % 1440) // 60:02d}:{tot % 60:02d}:00"
            flights.append([fn, sched, actual])
    _write_csv(os.path.join(out, "flights.csv"),
               ["flight_number", "scheduled_departure", "actual_departure"], flights)
    names = sorted({row[0] for row in flights})
    os.makedirs(os.path.join(out, "requests"))
    for q in range(STREAM_REQUESTS):
        pid = f"R{q:05d}"
        fn = r.choice(names) if r.random() < 0.9 else f"ZZ{r.randint(1, 999)}"
        lines = [json.dumps({
            "type": "eligibility_check", "requested_at": "2024-03-10T00:00:00Z",
            "payload": {"firstName": "Jane", "lastName": "Doe",
                        "flightNumber": fn, "passengerId": pid}})]
        if q % STREAM_CORRUPT_EVERY == STREAM_CORRUPT_EVERY - 1:
            lines.append(f"corrupt payload {pid}")   # audited, never dispatched
        with open(os.path.join(out, "requests", f"req{q:05d}.json"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")


GENERATORS = {"etl_warehouse": gen_etl, "corpus_curation": gen_corpus,
              "ann_serving": gen_ann}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out` (replaced)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = GENERATORS[workload](seed, tmp)
    with open(os.path.join(tmp, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def cached(root, workload, seed):
    """Inputs for (workload, seed) under `root`, generated once."""
    out = os.path.join(root, f"{workload}-s{seed}-{GEN_VERSION}")
    if not os.path.exists(os.path.join(out, "expected.json")):
        generate(workload, seed, out)
    return out


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
