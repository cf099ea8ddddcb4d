"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (workload, seed): values come from
DuckDB's `hash` over (row index, seed, salt), and every COPY is ordered,
so one seed always writes the same rows in the same order. The program
receives only the parquet written here.

The word lists are the vocabularies of the star-schema test tables the
repository's registry queries run on (document words, part-name words,
nation/region/segment names), so the text and names look like the data
the operators were built for.
"""
import hashlib
import os

import duckdb

DOC_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch"]
# language marker words (the program's language id counts these)
LANG_WORDS = {
    "fr": ["le", "la", "les", "et", "est"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "de", "y"],
}
NAME_WORDS = [
    "anvil", "blue", "bolt", "gear", "gizmo", "hot", "large", "new",
    "old", "plate", "red", "ring", "rod", "small", "widget", "cold"]
NATIONS = ["NATION_%d" % i for i in range(25)]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
FIELDS = ["weight", "width", "height", "depth", "power", "volume",
          "voltage", "capacity", "warranty", "rating", "pages", "colours"]

# Sizes. Each operation takes seconds on a 4-core machine; the item
# interactions are large enough that the scoring shuffle keeps most
# cores busy (see README.md).
ECOM = dict(groups=150, products=3000, new_groups=20, new_products=150,
            users=300, perm_per_seg=60)
CORPUS = dict(docs=2000, exact_copies=60, near_dups=60, contaminated=30,
              short_docs=80, bench_docs=20, sources=10)
ITEMS = dict(customers=20000, items=3000, changed=400, guests=30)
# Item-neighbour model settings shared with the JVM side and the checks.
ITEM_CAP = 20
ITEM_K = 10
PACK_BUDGET = 512
# per-source sampling rates (all below 1, so stage counts never grow)
RATES = {"src%d" % i: (0.5 if i % 3 == 1 else 0.8 if i % 3 == 2 else 1.0)
         for i in range(CORPUS["sources"])}


def _lit(words):
    return "[" + ",".join("'%s'" % w for w in words) + "]"


def _h(seed, *parts):
    """SQL for a deterministic unsigned hash of (parts..., seed)."""
    return "hash(%s, %d)" % (", ".join(parts), seed)


def _u(seed, mod, *parts):
    """SQL for a deterministic integer in [0, mod)."""
    return "CAST(%s %% %d AS BIGINT)" % (_h(seed, *parts), mod)


def _copy(con, sql, path):
    con.execute("COPY (%s) TO '%s' (FORMAT parquet)" % (sql, path))


def gen_ecom(con, seed, out):
    """Destination tables plus the sync feed, shared by ecom_sync and
    ecom_export. Destination: groups, products (en/fr/de rows, uid),
    relations, group_products, category_values, assortments, users,
    perm. Feed: in_groups (renamed + new), in_products (updated,
    unchanged, new, in-batch duplicates, rule-quarantined rows and rows
    naming a missing group), in_relations."""
    s = seed
    n = ECOM
    con.execute("CREATE OR REPLACE MACRO pick(l, i) AS l[i + 1]")
    con.execute("""CREATE OR REPLACE TABLE groups AS
      SELECT CAST(g AS INTEGER) AS group_id,
             pick(%s, %s) || ' ' || pick(%s, %s) || ' ' || g AS group_name,
             'SHOP' || (1 + %s) AS shop_id,
             pick(%s, %s) AS region
      FROM range(1, %d) t(g)""" % (
        _lit(NATIONS), _u(s, 25, "g", "'gn'"), _lit(NAME_WORDS),
        _u(s, 16, "g", "'gw'"), _u(s, 4, "g", "'gs'"), _lit(REGIONS),
        _u(s, 5, "g", "'gr'"), n["groups"] + 1))
    words3 = " || ' ' || ".join(
        "pick(%s, %s)" % (_lit(NAME_WORDS), _u(s, 15, "p", "'w%d'" % i))
        for i in range(3))
    con.execute("""CREATE OR REPLACE TABLE base AS
      SELECT p AS product_id, %s AS product_name,
             CAST(1 + %s AS INTEGER) AS group_id,
             CAST(CAST(100 + %s AS DECIMAL(18,2)) * 0.01 AS DECIMAL(18,2)) AS price,
             'SHOP' || (1 + %s) AS shop_id
      FROM range(1, %d) t(p)""" % (
        words3, _u(s, n["groups"], "p", "'pg'"), _u(s, 190000, "p", "'pp'"),
        _u(s, 4, "p", "'ps'"), n["products"] + 1))
    con.execute("""CREATE OR REPLACE TABLE products AS
      SELECT product_id, product_name, group_id, price, shop_id,
             'en' AS lang, product_id * 10 AS uid FROM base
      UNION ALL
      SELECT product_id, product_name, group_id, price, shop_id,
             'fr', product_id * 10 + 1 FROM base WHERE %s < 3
      UNION ALL
      SELECT product_id, product_name, group_id, price, shop_id,
             'de', product_id * 10 + 2 FROM base WHERE %s < 3""" % (
        _u(s, 10, "product_id", "'fr'"), _u(s, 20, "product_id", "'de'")))
    con.execute("""CREATE OR REPLACE TABLE relations AS
      SELECT product_id, related_id, min(qty) AS qty FROM (
        SELECT p AS product_id, 1 + %s AS related_id, 1 + %s AS qty
        FROM range(1, %d) t(p), range(3) r(j)
        WHERE %s <> 0)
      WHERE related_id <> product_id GROUP BY 1, 2""" % (
        _u(s, n["products"], "p", "j", "'rel'"), _u(s, 50, "p", "j", "'rq'"),
        n["products"] + 1, _u(s, 4, "p", "j", "'rk'")))
    con.execute("""CREATE OR REPLACE TABLE group_products AS
      SELECT product_id, group_id, min(sort_order) AS sort_order,
             bool_or(is_primary) AS is_primary FROM (
        SELECT product_id, group_id, 0 AS sort_order, true AS is_primary FROM base
        UNION ALL
        SELECT p, CAST(1 + %s AS INTEGER), CAST(j AS INTEGER), false
        FROM range(1, %d) t(p), range(1, 3) r(j) WHERE %s <> 0)
      GROUP BY 1, 2""" % (
        _u(s, n["groups"], "p", "j", "'gp'"), n["products"] + 1,
        _u(s, 3, "p", "j", "'gk'")))
    con.execute("""CREATE OR REPLACE TABLE category_values AS
      SELECT p AS product_id, pick(%s, f) AS field_name,
             CAST(%s AS BIGINT) AS value
      FROM range(1, %d) t(p), range(%d) fs(f), range(2) r(j)
      WHERE %s < 4 AND (j = 0 OR %s = 0)""" % (
        _lit(FIELDS), _u(s, 10000, "p", "f", "j", "'cv'"), n["products"] + 1,
        len(FIELDS), _u(s, 10, "p", "f", "'cf'"), _u(s, 10, "p", "f", "'c2'")))
    con.execute("""CREATE OR REPLACE TABLE users AS
      SELECT u AS user_id, pick(%s, %s) AS seg FROM range(1, %d) t(u)""" % (
        _lit(SEGMENTS), _u(s, 5, "u", "'us'"), n["users"] + 1))
    # permission sets: the old one built the existing assortment rows,
    # the new one (perm) is what this sync rebuilds from
    con.execute("""CREATE OR REPLACE TABLE perm_old AS
      SELECT DISTINCT pick(%s, k) AS seg, 1 + %s AS product_id
      FROM range(5) s(k), range(%d) r(j)""" % (
        _lit(SEGMENTS), _u(s, n["products"], "k", "j", "'po'"), n["perm_per_seg"]))
    con.execute("""CREATE OR REPLACE TABLE perm AS
      SELECT * FROM perm_old WHERE %s <> 0
      UNION
      SELECT DISTINCT pick(%s, k), 1 + %s
      FROM range(5) s(k), range(%d) r(j)""" % (
        _u(s, 4, "hash(seg)", "product_id", "'pk'"), _lit(SEGMENTS),
        _u(s, n["products"], "k", "j", "'pn'"), n["perm_per_seg"] // 3))
    con.execute("""CREATE OR REPLACE TABLE assortments AS
      SELECT DISTINCT u.user_id, p.product_id, 1 AS is_active
      FROM users u JOIN perm_old p ON u.seg = p.seg""")

    # ── the sync feed ──────────────────────────────────────────────
    con.execute("""CREATE OR REPLACE TABLE in_groups AS
      SELECT group_id, group_name || ' *' AS group_name, shop_id, region
      FROM groups WHERE %s = 0
      UNION ALL
      SELECT CAST(100000 + k AS INTEGER), 'NEW ' || pick(%s, %s) || ' ' || k,
             'SHOP' || (1 + %s), pick(%s, %s)
      FROM range(1, %d) t(k)""" % (
        _u(s, 10, "group_id", "'rn'"), _lit(REGIONS), _u(s, 5, "k", "'nr'"),
        _u(s, 4, "k", "'ns'"), _lit(REGIONS), _u(s, 5, "k", "'nr2'"),
        n["new_groups"] + 1))
    con.execute("""CREATE OR REPLACE TABLE post_groups AS
      SELECT g.group_id, coalesce(i.group_name, g.group_name) AS group_name
      FROM groups g LEFT JOIN in_groups i USING (group_id)
      UNION ALL SELECT group_id, group_name FROM in_groups WHERE group_id >= 100000""")
    # carried products: 95% of the en catalogue (the rest is deleted by
    # the en-scoped full sync); kind: 0 plain, 1 quarantined by rule,
    # 2 names a missing group, 3 duplicated in the batch
    con.execute("""CREATE OR REPLACE TABLE carried AS
      SELECT b.*,
        CASE WHEN %s = 0 THEN 1 WHEN %s = 0 THEN 2 WHEN %s = 0 THEN 3 ELSE 0 END AS kind
      FROM base b WHERE %s <> 0""" % (
        _u(s, 100, "product_id", "'q'"), _u(s, 200, "product_id", "'dg'"),
        _u(s, 30, "product_id", "'dup'"), _u(s, 20, "product_id", "'keep'")))
    con.execute("""CREATE OR REPLACE TABLE in_products AS
      WITH f AS (
        SELECT c.product_id,
          CASE WHEN kind = 1 THEN c.product_name || ' #bad'
               WHEN %s = 0 THEN 'renamed ' || c.product_name
               ELSE c.product_name END AS product_name,
          CASE WHEN kind = 2 THEN 'MISSING ' || c.product_id
               WHEN %s = 0 THEN (SELECT group_name FROM post_groups
                                 WHERE group_id = 100001 + %s)
               ELSE pg.group_name END AS group_name_ref,
          CASE WHEN %s = 0 THEN CAST(c.price + 1.00 AS DECIMAL(18,2))
               ELSE c.price END AS price,
          c.shop_id, c.kind
        FROM carried c JOIN post_groups pg ON pg.group_id = c.group_id)
      SELECT product_id, product_name, group_name_ref, price, shop_id FROM f
      UNION ALL
      SELECT product_id, product_name || ' dup', group_name_ref,
             CAST(price + 5.00 AS DECIMAL(18,2)), shop_id FROM f WHERE kind = 3
      UNION ALL
      SELECT 10000000 + k, 'fresh ' || pick(%s, %s) || ' ' || k,
             (SELECT group_name FROM post_groups WHERE group_id = 1 + %s),
             CAST(CAST(100 + %s AS DECIMAL(18,2)) * 0.01 AS DECIMAL(18,2)),
             'SHOP' || (1 + %s)
      FROM range(1, %d) t(k)""" % (
        _u(s, 7, "c.product_id", "'rnm'"), _u(s, 25, "c.product_id", "'ng'"),
        _u(s, n["new_groups"], "c.product_id", "'ngi'"),
        _u(s, 3, "c.product_id", "'pr'"), _lit(NAME_WORDS), _u(s, 16, "k", "'nw'"),
        _u(s, n["groups"], "k", "'nkg'"), _u(s, 190000, "k", "'nkp'"),
        _u(s, 4, "k", "'nks'"), n["new_products"] + 1))
    con.execute("""CREATE OR REPLACE TABLE in_relations AS
      SELECT r.product_id, r.related_id,
             CASE WHEN %s = 0 THEN r.qty + 1 ELSE r.qty END AS qty
      FROM relations r WHERE %s <> 0
      UNION ALL
      SELECT 10000000 + k, 1 + %s, min(1 + %s)
      FROM range(1, %d) t(k), range(2) r(j) GROUP BY 1, 2""" % (
        _u(s, 4, "r.product_id", "r.related_id", "'rq2'"),
        _u(s, 10, "r.product_id", "r.related_id", "'rdrop'"),
        _u(s, n["products"], "k", "j", "'nrel'"), _u(s, 50, "k", "j", "'nrq'"),
        n["new_products"] + 1))
    tables = {
        "groups": "group_id", "products": "product_id, lang",
        "relations": "product_id, related_id",
        "group_products": "product_id, group_id",
        "category_values": "product_id, field_name, value",
        "users": "user_id", "perm": "seg, product_id",
        "assortments": "user_id, product_id", "in_groups": "group_id",
        "in_products": "product_id, price",
        "in_relations": "product_id, related_id"}
    for t, order in tables.items():
        _copy(con, "SELECT * FROM %s ORDER BY %s" % (t, order),
              os.path.join(out, t + ".parquet"))


def gen_corpus(con, seed, out):
    """documents (+ planted exact copies, near-duplicates at one-word
    edits, benchmark-contaminated documents, short low-quality docs)
    and bench (the evaluation set). The planted ground truth goes to
    planted.parquet, which only the checks read."""
    s = seed
    n = CORPUS
    words = _lit(DOC_WORDS)
    nw = len(DOC_WORDS)
    con.execute("CREATE OR REPLACE MACRO pick(l, i) AS l[i + 1]")

    def doc_sql(count, nmin, nspan, salt):
        # `count` documents of nmin..nmin+nspan words from the vocabulary
        return """SELECT d AS doc_id, string_agg(pick(%s, %s), ' ' ORDER BY w) AS text
          FROM range(1, %d) t(d), range(%d) ws(w)
          WHERE w < %d + %s GROUP BY d""" % (
            words, _u(s, nw, "d", "w", "'%s'" % salt), count + 1, nmin + nspan,
            nmin, _u(s, nspan, "d", "'%sl'" % salt))

    con.execute("CREATE OR REPLACE TABLE base AS " + doc_sql(n["docs"], 45, 40, "dw"))
    con.execute("CREATE OR REPLACE TABLE bench AS " + doc_sql(n["bench_docs"], 30, 10, "bw"))
    # language flavour: every 4th..6th doc gets marker words appended
    fr, de, es = (_lit(LANG_WORDS[k]) for k in ("fr", "de", "es"))
    con.execute("""CREATE OR REPLACE TABLE base AS
      SELECT doc_id, CASE %s
        WHEN 1 THEN text || ' ' || pick(%s, %s) || ' ' || pick(%s, %s) || ' est'
        WHEN 2 THEN text || ' ' || pick(%s, %s) || ' ' || pick(%s, %s) || ' und'
        WHEN 3 THEN text || ' ' || pick(%s, %s) || ' ' || pick(%s, %s) || ' los'
        ELSE text END AS text
      FROM base""" % (
        _u(s, 6, "doc_id", "'lg'"), fr, _u(s, 5, "doc_id", "'l1'"), fr,
        _u(s, 5, "doc_id", "'l2'"), de, _u(s, 5, "doc_id", "'l1'"), de,
        _u(s, 5, "doc_id", "'l2'"), es, _u(s, 5, "doc_id", "'l1'"), es,
        _u(s, 5, "doc_id", "'l2'")))
    base_n = n["docs"]
    # planted rows get ids above the base range; each original is a
    # distinct base doc so plants never interact
    con.execute("""CREATE OR REPLACE TABLE plant_src AS
      SELECT doc_id AS orig_id, row_number() OVER (ORDER BY %s, doc_id) AS k
      FROM base""" % _h(s, "doc_id", "'ps'"))
    e, nd, c = n["exact_copies"], n["near_dups"], n["contaminated"]
    con.execute("""CREATE OR REPLACE TABLE planted AS
      SELECT 'exact' AS kind, %d + k AS doc_id, orig_id FROM plant_src WHERE k <= %d
      UNION ALL
      SELECT 'near', %d + k, orig_id FROM plant_src WHERE k > %d AND k <= %d
      UNION ALL
      SELECT 'contaminated', orig_id, CAST(1 + %s AS BIGINT)
      FROM plant_src WHERE k > %d AND k <= %d""" % (
        base_n, e, base_n, e, e + nd, _u(s, n["bench_docs"], "orig_id", "'cb'"),
        e + nd, e + nd + c))
    # exact copy: same words, different casing and punctuation (the
    # dedup key is the normalized form); near copy: one word replaced
    # at a seeded position (a 45-85 word doc keeps Jaccard >= 0.9 over
    # word 3-shingles); contaminated: a 20-word run of a bench doc
    # spliced into the middle
    con.execute("""CREATE OR REPLACE TABLE documents0 AS
      SELECT doc_id, text FROM base
        WHERE doc_id NOT IN (SELECT doc_id FROM planted WHERE kind = 'contaminated')
      UNION ALL
      SELECT p.doc_id, upper(b.text) || '!' FROM planted p JOIN base b ON b.doc_id = p.orig_id
        WHERE p.kind = 'exact'
      UNION ALL
      SELECT p.doc_id, array_to_string(list_transform(string_split(b.text, ' '),
          (x, i) -> CASE WHEN i = 10 + %s THEN x || 'zz' ELSE x END), ' ')
        FROM planted p JOIN base b ON b.doc_id = p.orig_id WHERE p.kind = 'near'
      UNION ALL
      SELECT p.doc_id, array_to_string(
          list_slice(string_split(b.text, ' '), 1, 15) ||
          list_slice(string_split(x.text, ' '), 5, 24) ||
          list_slice(string_split(b.text, ' '), 16, 1000), ' ')
        FROM planted p JOIN base b ON b.doc_id = p.doc_id
        JOIN bench x ON x.doc_id = p.orig_id WHERE p.kind = 'contaminated'
      UNION ALL
      SELECT %d + k, array_to_string(list_slice(string_split(b.text, ' '), 1, 6), ' ')
        FROM plant_src ps JOIN base b ON b.doc_id = ps.orig_id
        WHERE ps.k > %d AND ps.k <= %d""" % (
        _u(s, 20, "p.doc_id", "'np'"), base_n + e + nd,
        e + nd + c, e + nd + c + n["short_docs"]))
    con.execute("""CREATE OR REPLACE TABLE documents AS
      SELECT doc_id, text,
             CASE WHEN text LIKE '%% est' THEN 'fr' WHEN text LIKE '%% und' THEN 'de'
                  WHEN text LIKE '%% los' THEN 'es' ELSE 'en' END AS lang,
             'src' || %s AS source, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents0""" % _u(s, n["sources"], "doc_id", "'src'"))
    _copy(con, "SELECT * FROM documents ORDER BY doc_id",
          os.path.join(out, "documents.parquet"))
    _copy(con, "SELECT doc_id, text FROM bench ORDER BY doc_id",
          os.path.join(out, "bench.parquet"))
    _copy(con, "SELECT * FROM planted ORDER BY kind, doc_id",
          os.path.join(out, "planted.parquet"))


# Guest-checkout rows (null customer) are the same on every seed: the
# fault they expose does not depend on the generated interactions.
GUEST_ROWS = [(1 + (7 * g) % 60, 1 + g % 5) for g in range(ITEMS["guests"])]


def gen_items(con, seed, out):
    """interactions (customer x product, integer strength, popularity
    skewed toward low product ids), and one CDC batch in two variants:
    batch_a (changed customers only) and batch_b (the same changes plus
    guest-checkout rows with a null customer). Each batch is the
    changed customers' complete history before (old_*) and after
    (new_*) the change."""
    s = seed
    n = ITEMS
    ni = n["items"]
    # skewed popularity: item = floor(ni * u^2) + 1
    con.execute("""CREATE OR REPLACE TABLE interactions AS
      SELECT customer_id, product_id, max(strength) AS strength FROM (
        SELECT c AS customer_id,
               1 + CAST(floor(%d * pow(%s / 1000000.0, 2)) AS BIGINT) AS product_id,
               1 + %s AS strength
        FROM range(1, %d) t(c), range(30) r(j)
        WHERE j < 4 + %s)
      GROUP BY 1, 2""" % (
        ni, _u(s, 1000000, "c", "j", "'ip'"), _u(s, 9, "c", "j", "'is'"),
        n["customers"] + 1, _u(s, 26, "c", "'il'")))
    con.execute("""CREATE OR REPLACE TABLE changed AS
      SELECT c AS customer_id FROM range(1, %d) t(c)
      ORDER BY %s, c LIMIT %d""" % (
        n["customers"] + 1, _h(s, "c", "'ch'"), n["changed"]))
    con.execute("""CREATE OR REPLACE TABLE old_a AS
      SELECT i.* FROM interactions i SEMI JOIN changed c USING (customer_id)""")
    # new history: drop about a third of the rows, re-weight a third,
    # add up to 8 new items
    con.execute("""CREATE OR REPLACE TABLE new_a AS
      SELECT customer_id, product_id, max(strength) AS strength FROM (
        SELECT customer_id, product_id,
               CASE WHEN %s = 0 THEN strength + 3 ELSE strength END AS strength
        FROM old_a WHERE %s <> 0
        UNION ALL
        SELECT c.customer_id,
               1 + CAST(floor(%d * pow(%s / 1000000.0, 2)) AS BIGINT), 1 + %s
        FROM changed c, range(8) r(j) WHERE j < %s)
      GROUP BY 1, 2""" % (
        _u(s, 3, "customer_id", "product_id", "'rw'"),
        _u(s, 3, "customer_id", "product_id", "'rd'"),
        ni, _u(s, 1000000, "c.customer_id", "j", "'np'"),
        _u(s, 9, "c.customer_id", "j", "'ns'"), _u(s, 9, "c.customer_id", "'nn'")))
    guests = " UNION ALL ".join(
        "SELECT CAST(NULL AS BIGINT), CAST(%d AS BIGINT), CAST(%d AS BIGINT)" % g
        for g in GUEST_ROWS)
    con.execute("""CREATE OR REPLACE TABLE new_b AS
      SELECT * FROM new_a UNION ALL %s""" % guests)
    for t, order in (("interactions", "customer_id, product_id"),
                     ("old_a", "customer_id, product_id"),
                     ("new_a", "customer_id, product_id"),
                     ("new_b", "customer_id NULLS FIRST, product_id")):
        _copy(con, "SELECT * FROM %s ORDER BY %s" % (t, order),
              os.path.join(out, t + ".parquet"))


GENERATORS = {
    "ecom_sync": ("ecom", gen_ecom),
    "ecom_export": ("ecom", gen_ecom),
    "corpus_curation": ("corpus", gen_corpus),
    "item_neighbours": ("items", gen_items),
}


def generate(workload, seed, root):
    """Write the workload's inputs under root; returns the directory.
    Inputs are cached per (kind, seed): a directory with a DONE marker is
    reused as is."""
    kind, fn = GENERATORS[workload]
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, "%s-%d-%s" % (kind, seed, version))
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect(config={"threads": 2})
    try:
        fn(con, seed, out)
    finally:
        con.close()
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write("ok\n")
    return out
