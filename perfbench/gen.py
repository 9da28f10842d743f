"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The ingest inputs' generators return the facts
the output checks compare against (row counts, null counts, the target
user), computed while the rows are generated, never by reading graft's
output. Query results are checked against recorded digests instead.

  ibc_csv       IBC-shaped municipal indicators CSV (FIXTURES.md A1)
  api_fixtures  JSONPlaceholder-shaped users/posts pair (FIXTURES.md A2)
  star_schema   the operator suite's star schema (FIXTURES.md B)
"""
import json
import os
import random

IBC_HEADER = ["Ano", "Código Município", "Município", "UF", "IBC",
              "Cobertura Pop. 4G5G", "Densidade SMP", "HHI SMP",
              "Densidade SCM", "HHI SCM", "Adensamento Estações", "Fibra",
              "Cobertura área agricultável"]
# normalized names, in header order (configs/indicadores_municipios.json)
IBC_COLUMNS = ["ano", "codigo_municipio", "municipio", "uf", "ibc",
               "cobertura_pop_4g5g", "densidade_smp", "hhi_smp",
               "densidade_scm", "hhi_scm", "adensamento_estacoes", "fibra",
               "cobertura_area_agricultavel"]
IBC_ROWS_1X = 22_280  # 5,570 municipalities x 4 years
MUNICIPALITIES = 5_570
UFS = ["AC", "AL", "AM", "AP", "BA", "CE", "DF", "ES", "GO", "MA", "MG",
       "MS", "MT", "PA", "PB", "PE", "PI", "PR", "RJ", "RN", "RO", "RR",
       "RS", "SC", "SE", "SP", "TO"]
SYLLABLES = ["São", "Santa", "Alta", "Nova", "Bom", "Rio", "Serra", "Campo",
             "Porto", "Vila", "Jesus", "Floresta", "Verde", "Branco", "Lagoa",
             "Cruz", "Barra", "Monte", "Pedra", "Ouro", "Boa", "Vista",
             "Itá", "Guará", "Piraí", "Tabuleiro", "Açu", "Mirim"]


def pt_decimal(value, places):
    """pt-BR rendering: thousands dots, decimal comma, whole values bare
    ("44"), the way the source spreadsheet exports them."""
    if places == 0 or value == int(value):
        whole, frac = f"{int(value)}", ""
    else:
        whole, frac = f"{value:.{places}f}".split(".")
    groups = []
    while len(whole) > 3:
        groups.insert(0, whole[-3:])
        whole = whole[:-3]
    groups.insert(0, whole)
    return ".".join(groups) + ("," + frac if frac else "")


def ibc_csv(path, seed, multiple):
    """Write `multiple` x 22,280 IBC rows; return the expected manifest
    facts. About 75 % of `Cobertura área agricultável` is empty, about
    2 % of names are quoted because they embed the `;` separator."""
    rnd = random.Random(f"ibc-{seed}")
    names = []
    for i in range(MUNICIPALITIES):
        name = " ".join(rnd.choice(SYLLABLES) for _ in range(rnd.randint(1, 3)))
        if rnd.random() < 0.08:
            name += " D'Oeste"
        uf = UFS[i % len(UFS)]
        full = f"{name}; Distrito - {uf}" if rnd.random() < 0.02 else f"{name} - {uf}"
        names.append((f"{1100015 + 37 * i}", full, uf))
    rows = IBC_ROWS_1X * multiple
    empty_agri = 0
    lines = ["﻿" + ";".join(IBC_HEADER)]
    for r in range(rows):
        code, name, uf = names[r % MUNICIPALITIES]
        year = 2024 - r // MUNICIPALITIES
        quoted = '"' + name + '"' if ";" in name else name
        dens_smp = rnd.uniform(5, 180) if rnd.random() < 0.97 else rnd.uniform(1000, 9000)
        aden = rnd.uniform(0, 60) if rnd.random() < 0.98 else rnd.uniform(1000, 3000)
        if rnd.random() < 0.75:
            agri = ""
            empty_agri += 1
        else:
            agri = pt_decimal(round(rnd.uniform(0, 100), 4), 4)
        fields = [
            str(year), code, quoted, uf,
            pt_decimal(round(rnd.uniform(10, 90), 2), 2),
            pt_decimal(round(rnd.uniform(0, 100), 4), 4) if rnd.random() < 0.9 else "100",
            pt_decimal(round(dens_smp, 2), 2),
            str(rnd.randint(20, 100)),
            pt_decimal(round(rnd.uniform(0, 40), 2), 2),
            str(rnd.randint(10, 100)),
            pt_decimal(round(aden, 2), 2),
            "0" if rnd.random() < 0.6 else str(rnd.randint(1, 100)),
            agri,
        ]
        lines.append(";".join(fields))
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("\n".join(lines) + "\n")
    nulls = {c: 0 for c in IBC_COLUMNS}
    nulls["cobertura_area_agricultavel"] = empty_agri
    return {"rows": rows, "nulls": nulls, "bytes": os.path.getsize(path)}


FIRST = ["Leanne", "Ervin", "Clementine", "Patricia", "Chelsey", "Dennis",
         "Glenna", "Nicholas", "Clementina", "Mrs.", "Ana", "Bruno"]
LAST = ["Graham", "Howell", "Bauch", "Lebsack", "Dietrich", "Schulist",
        "Reichert", "Runolfsdottir", "DuBuque", "Kuhn", "Souza", "Lima"]
WORDS = ["sunt", "aut", "facere", "repellat", "provident", "occaecati",
         "excepturi", "optio", "reprehenderit", "quia", "et", "suscipit",
         "recusandae", "consequuntur", "expedita", "rerum", "est", "autem"]
TARGET_USER = ("Kurtis Weissnat", 7)
USERS = 10
POSTS_PER_USER = 10


def api_fixtures(directory, seed):
    """users.json (10 users, `Kurtis Weissnat` is id 7) and posts.json
    (10 posts per user, bodies with embedded newlines)."""
    rnd = random.Random(f"api-{seed}")
    taken = {TARGET_USER[0]}
    users = []
    for uid in range(1, USERS + 1):
        if uid == TARGET_USER[1]:
            name = TARGET_USER[0]
        else:
            name = TARGET_USER[0]
            while name in taken:
                name = f"{rnd.choice(FIRST)} {rnd.choice(LAST)}"
            taken.add(name)
        handle = name.split()[-1] + "." + rnd.choice(WORDS).capitalize()
        users.append({
            "id": uid, "name": name, "username": handle,
            "email": f"{handle.lower()}@{rnd.choice(WORDS)}.biz",
            "address": {"street": f"{rnd.choice(LAST)} Street",
                        "city": rnd.choice(SYLLABLES),
                        "geo": {"lat": f"{rnd.uniform(-90, 90):.4f}",
                                "lng": f"{rnd.uniform(-180, 180):.4f}"}},
            "phone": f"{rnd.randint(100, 999)}-{rnd.randint(100, 999)}-{rnd.randint(1000, 9999)}",
            "company": {"name": f"{rnd.choice(LAST)} LLC",
                        "catchPhrase": " ".join(rnd.sample(WORDS, 4))},
        })
    posts = []
    for uid in range(1, USERS + 1):
        for k in range(POSTS_PER_USER):
            body = "\n".join(" ".join(rnd.choice(WORDS) for _ in range(rnd.randint(6, 10)))
                             for _ in range(4))
            posts.append({"userId": uid, "id": (uid - 1) * POSTS_PER_USER + k + 1,
                          "title": " ".join(rnd.sample(WORDS, 5)), "body": body})
    with open(os.path.join(directory, "users.json"), "w", encoding="utf-8") as f:
        json.dump(users, f, ensure_ascii=False, indent=2)
    with open(os.path.join(directory, "posts.json"), "w", encoding="utf-8") as f:
        json.dump(posts, f, ensure_ascii=False, indent=2)
    return {
        "target_name": TARGET_USER[0], "target_user_id": TARGET_USER[1],
        "users": {"rows": USERS, "nulls": {c: 0 for c in ["user_id", "nome", "usuario", "email"]}},
        "posts": {"rows": POSTS_PER_USER,
                  "nulls": {c: 0 for c in ["user_id", "post_id", "titulo", "conteudo"]}},
    }


def star_rows(scale):
    """Row counts per table at a scale factor (FIXTURES.md B): TPC-H
    shaped tables grow with the scale; documents and embeddings have a
    floor of 500 rows, so they are 500 at both sf0.001 and sf0.01."""
    return {"customer": round(150_000 * scale), "supplier": round(10_000 * scale),
            "part": round(200_000 * scale), "orders": round(1_500_000 * scale),
            "lineitem": round(6_000_000 * scale), "events": round(1_000_000 * scale),
            "event_users": round(15_000 * scale),
            "documents": max(500, round(50_000 * scale)),
            "embeddings": max(500, round(20_000 * scale))}


# Category lists in the order the test data's generator draws from them.
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DOC_WORDS = ["the", "a", "spark", "query", "table", "join", "group", "filter",
             "window", "data", "order", "customer", "part", "line", "fast",
             "slow", "big", "small", "hash", "sort", "merge", "scan", "agg",
             "stream", "batch", "vector", "key", "value", "row", "column"]


def star_schema(directory, seed=42, scale=0.01):
    """The operator suite's ten parquet tables.

    This is the generator of the suite's test data (seed 42): with the
    same seed and scale it reproduces those tables value for value,
    including lineitem's random order keys, the event stream's sorted
    uniform timestamps, the 5 % of documents that are a copy of another
    plus " dup", and the unit-norm Gaussian embeddings with random
    labels. README.md gives the check.
    """
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    n = star_rows(scale)

    def write(name, cols):
        pd.DataFrame(cols).to_parquet(os.path.join(directory, f"{name}.parquet"), index=False,
                                      coerce_timestamps="us", allow_truncated_timestamps=True)

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, size, span):
        return np.datetime64(start, "s") + rng.integers(0, span, size).astype("timedelta64[D]")

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    c = n["customer"]
    write("customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, s)})
    p = n["part"]
    write("part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    write("orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": rng.choice(ORDER_STATUS, o),
        "o_totalprice": money(1000, 500000, o),
        "o_orderdate": days("1995-01-01", o, 2405),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900, 105000, li),
        "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
        "l_returnflag": rng.choice(RETURN_FLAGS, li),
        "l_linestatus": rng.choice(LINE_STATUS, li),
        "l_shipdate": days("1995-01-02", li, 2499)})
    ev = n["events"]
    seconds = np.sort(rng.uniform(0, 30 * 86400, ev))
    write("events", {
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "ns") + (seconds * 1e9).astype("timedelta64[ns]"),
        "user_id": rng.integers(0, n["event_users"], ev),
        "event_type": rng.choice(EVENT_TYPES, ev),
        "value": np.round(rng.exponential(50, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]})
    d = n["documents"]
    texts = [" ".join(rng.choice(DOC_WORDS, rng.integers(10, 100))) for _ in range(d)]
    copies = rng.choice(d, d // 20, replace=False)
    for target, source in zip(copies, rng.integers(0, d, len(copies))):
        texts[target] = texts[source] + " dup"
    write("documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, m).astype(np.int32)})
