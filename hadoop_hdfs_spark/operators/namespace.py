"""Namespace-tree operators (SURVEY.md §2.2, §2.4, §2.6 — the FSDirectory /
FSNamesystem metadata query surface).

Each operator is a pure DataFrame transformation over the ``inodes`` entity.
The reference implements these as recursive walks over the in-memory INode
tree under a global lock; the Spark-first inversion is a *set-oriented* plan
over the whole namespace at once — one shuffle computes the answer for every
directory, which is the shape that survives 100 TB / 1000-executor scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..registry import register

# Ancestor list of a path: ['/','/a','/a/b'] for '/a/b/c' (proper prefixes);
# for a directory the dir itself is appended (ContentSummary counts it).
def _ancestors(col: str = "path") -> str:
    return (
        f"transform(sequence(1, greatest(size(split({col}, '/')) - 1, 1)), "
        f"i -> IF(i = 1, '/', array_join(slice(split({col}, '/'), 1, i), '/')))"
    )


_ANCESTORS = _ancestors()

# DuckDB-side subtree membership predicate (dir d contains inode i,
# including d itself). LIKE treats _ and % as wildcards; the fixture's
# path alphabet contains neither, and the Spark sides of every _SUBTREE
# consumer match by exact prefix algebra, so the predicate is exact
# today. Queued for the r9 oracle sweep: rewrite as
# starts_with(i.path, d.path || '/') so a future entity model with
# metacharacter paths cannot diverge (t2c's oracle got this in r8).
_SUBTREE = (
    "(i.path = d.path OR (d.path = '/' AND i.path <> '/') "
    "OR (d.path <> '/' AND i.path LIKE d.path || '/%'))"
)


@register(
    "f1_path_lookup",
    oracle="""
SELECT path, length, is_dir, replication, preferred_block_size AS blocksize,
       mtime_ms, atime_ms, perm, owner, grp
FROM inodes
WHERE path = (SELECT path FROM inodes WHERE id = 10000001)
""",
    doc="F1 getFileInfo point lookup (FSDirectory.java:1191-1203): resolve a "
    "path to its HdfsFileStatus row (HdfsFileStatus.java:49-60).",
)
def f1_path_lookup(e) -> DataFrame:
    inodes = e["inodes"]
    target = inodes.filter(F.col("id") == 10000001).select("path")
    return inodes.join(F.broadcast(target), "path").select(
        "path",
        "length",
        "is_dir",
        "replication",
        F.col("preferred_block_size").alias("blocksize"),
        "mtime_ms",
        "atime_ms",
        "perm",
        "owner",
        "grp",
    )


@register(
    "f1b_symlink_resolve",
    oracle="""
SELECT s.path AS link_path, s.symlink AS target_path,
       t.path IS NOT NULL AS resolved,
       t.length, t.is_dir, t.replication, t.mtime_ms, t.perm, t.owner, t.grp
FROM inodes s
LEFT JOIN inodes t ON t.path = s.symlink
WHERE s.symlink IS NOT NULL
""",
    doc="F1b symlink-aware lookup (FSDirectory.java:1191-1203 resolves "
    "through links; ClientProtocol.getLinkTarget:855): dereference every "
    "symlink inode to its target's HdfsFileStatus in one hop — the client's "
    "UnresolvedLinkException retry, done set-at-a-time. The symlink set is "
    "a sliver of the namespace: first a broadcast semi-reduction shrinks "
    "the inodes scan to just the referenced targets (the big side never "
    "shuffles — a plain outer join keyed on target_path would funnel every "
    "link through the one hot target key), then the link->target outer join "
    "runs broadcast-to-broadcast. Dangling links surface as "
    "resolved = false. Multi-hop chains: resolve_symlinks() below (bounded "
    "iterative broadcast joins).",
)
def f1b_symlink_resolve(e) -> DataFrame:
    inodes = e["inodes"]
    links = inodes.filter(F.col("symlink").isNotNull()).select(
        F.col("path").alias("link_path"), F.col("symlink").alias("target_path")
    )
    referenced = links.select("target_path").distinct()
    targets = inodes.select(
        F.col("path").alias("target_path"),
        "length", "is_dir", "replication", "mtime_ms", "perm", "owner", "grp",
    ).join(F.broadcast(referenced), "target_path")
    return links.join(F.broadcast(targets), "target_path", "left").select(
        "link_path",
        "target_path",
        F.col("is_dir").isNotNull().alias("resolved"),
        "length", "is_dir", "replication", "mtime_ms", "perm", "owner", "grp",
    )


def resolve_symlinks(inodes: DataFrame, max_hops: int = 8) -> DataFrame:
    """Resolve symlink chains to their final target path.

    Returns (link_path, final_path, hops). Each iteration dereferences one
    link level via a broadcast self-join of the (small) symlink set — the
    reference client re-resolves one UnresolvedLinkException per hop the
    same way (FSClient createSymlink/getLinkTarget). Chains longer than
    ``max_hops`` (cycles included) stop where they stand, mirroring the
    reference's bounded link depth.
    """
    syms = inodes.filter(F.col("symlink").isNotNull()).select(
        F.col("path").alias("cur"), F.col("symlink").alias("nxt")
    )
    state = syms.select(
        F.col("cur").alias("link_path"),
        F.col("nxt").alias("final_path"),
        F.lit(1).alias("hops"),
    )
    for _ in range(max_hops - 1):
        state = (
            state.join(
                F.broadcast(syms.withColumnRenamed("cur", "final_path")),
                "final_path",
                "left",
            )
            .select(
                "link_path",
                F.coalesce("nxt", "final_path").alias("final_path"),
                (F.col("hops") + F.when(F.col("nxt").isNotNull(), 1).otherwise(0)).alias("hops"),
            )
        )
    return state


@register(
    "f2_listing_page",
    oracle="""
SELECT path, name, length, is_dir, replication, mtime_ms, perm, owner, grp,
       remaining_entries
FROM (
  SELECT i.path, i.name, i.length, i.is_dir, i.replication, i.mtime_ms,
         i.perm, i.owner, i.grp,
         ROW_NUMBER() OVER (ORDER BY i.name)                  AS rn,
         CAST(GREATEST(COUNT(*) OVER () - 5, 0) AS BIGINT)    AS remaining_entries
  FROM inodes i
  JOIN inodes d ON i.parent_id = d.id
  WHERE d.path = '/r0/n0' AND i.name > 'c1'
) p
WHERE rn <= 5
""",
    doc="F2 paginated getListing (FSDirectory.java:1153-1183): children of a "
    "directory sorted by name, start-after cursor, page cap (lsLimit, "
    "DFSConfigKeys.java:110), remainingEntries pagination counter "
    "(protocol/DirectoryListing.java). The page is orderBy().limit() — "
    "Spark compiles that to TakeOrderedAndProject, a distributed top-k "
    "(per-partition heaps, k rows to the driver); remaining_entries is a "
    "scalar aggregate broadcast back over the page. No global window: the "
    "pathological 100M-child directory HDFS pagination exists for never "
    "funnels through one task (plan-asserted in tests/test_plans.py).",
)
def f2_listing_page(e, dir_path: str = "/r0/n0", start_after: str = "c1", limit: int = 5) -> DataFrame:
    inodes = e["inodes"]
    parent = inodes.filter(F.col("path") == dir_path).select(
        F.col("id").alias("parent_id")
    )
    children = inodes.join(F.broadcast(parent), "parent_id").filter(
        F.col("name") > start_after
    )
    total = children.agg(F.count("*").alias("_total"))
    page = children.orderBy("name").limit(limit)
    return page.crossJoin(F.broadcast(total)).select(
        "path", "name", "length", "is_dir", "replication", "mtime_ms",
        "perm", "owner", "grp",
        F.greatest(F.col("_total") - limit, F.lit(0)).cast("long").alias("remaining_entries"),
    )


@register(
    "f3_regex_listing",
    oracle="""
SELECT path, name, length, is_dir
FROM inodes
WHERE path LIKE '/r1/%'
  AND regexp_matches(name, '^(f|c).*[02468]$')
  AND NOT regexp_matches(name, '7')
""",
    doc="F3 ListPathsServlet recursive regex listing "
    "(server/namenode/ListPathsServlet.java:141-186): subtree walk with "
    "include/exclude name regexes.",
)
def f3_regex_listing(e) -> DataFrame:
    inodes = e["inodes"]
    return inodes.filter(
        F.col("path").startswith("/r1/")
        & F.col("name").rlike("^(f|c).*[02468]$")
        & ~F.col("name").rlike("7")
    ).select("path", "name", "length", "is_dir")


@register(
    "c1_path_functions",
    oracle="""
SELECT id, path,
       regexp_extract(path, '([^/]*)$', 1)                        AS basename,
       CASE WHEN path = '/' THEN CAST(NULL AS STRING)
            WHEN regexp_extract(path, '^(.*)/[^/]*$', 1) = '' THEN '/'
            ELSE regexp_extract(path, '^(.*)/[^/]*$', 1) END      AS parent_path,
       CAST(length(path) - length(replace(path, '/', '')) AS INT) AS depth
FROM inodes
""",
    doc="C1 path scalar functions (INode.getPathNames/getPathComponents "
    "INode.java:344-365, FSDirectory.getFullPathName:1404-1410): basename, "
    "parent path, depth.",
)
def c1_path_functions(e) -> DataFrame:
    inodes = e["inodes"]
    parent = F.regexp_extract("path", r"^(.*)/[^/]*$", 1)
    return inodes.select(
        "id",
        "path",
        F.regexp_extract("path", r"([^/]*)$", 1).alias("basename"),
        F.when(F.col("path") == "/", F.lit(None).cast("string"))
        .when(parent == "", F.lit("/"))
        .otherwise(parent)
        .alias("parent_path"),
        (F.length("path") - F.length(F.replace(F.col("path"), F.lit("/"), F.lit("")))).cast("int").alias("depth"),
    )


@register(
    "a1_content_summary",
    oracle=f"""
SELECT d.path AS dir_path,
       CAST(SUM(CASE WHEN NOT i.is_dir THEN 1 ELSE 0 END) AS BIGINT) AS file_count,
       CAST(SUM(CASE WHEN i.is_dir THEN 1 ELSE 0 END) AS BIGINT)     AS dir_count,
       CAST(SUM(CASE WHEN NOT i.is_dir THEN i.length ELSE 0 END) AS BIGINT) AS total_length,
       CAST(SUM(CASE WHEN NOT i.is_dir THEN i.length * i.replication ELSE 0 END) AS BIGINT) AS diskspace
FROM inodes d
JOIN inodes i ON d.is_dir AND {_SUBTREE}
GROUP BY d.path
""",
    doc="A1 ContentSummary / du -s for EVERY directory at once "
    "(INode.computeContentSummary INode.java:192-224, "
    "ContentSummaryServlet.java). The reference recurses per query under the "
    "namesystem lock (O(subtree) each); we explode each inode's ancestor "
    "list and aggregate once — one shuffle answers all directories, the "
    "100 TB-scale inversion (SURVEY.md §7 Phase 1).",
)
def a1_content_summary(e) -> DataFrame:
    return content_summary_all(e["inodes"])


def content_summary_all(
    inodes: DataFrame, restrict_to: DataFrame | None = None
) -> DataFrame:
    """(dir_path, file_count, dir_count, total_length, diskspace) per dir.

    Two-level rollup (r12, guide §2.3 "aggregate before you shuffle"):
    a file's contribution targets exactly the ancestor chain of its
    PARENT directory (proper prefixes of the file path = ancestors of the
    parent plus the parent itself), so all files sharing a parent are
    pre-aggregated into one partial row per parent BEFORE any ancestor
    list is built — the explode then runs over directories only. The
    namespace's file:dir ratio (orders-per-customer here, typically >>1
    in any real tree) is exactly the factor of rows the ancestor-explode
    exchange no longer carries; the pre-aggregation itself is a narrow
    map-side-partial groupBy on the parent path. Directories contribute
    their dir_count=1 rows as before (dir-population-sized).

    ``restrict_to``: optional 1-column (dir_path) frame; when given, the
    exploded ancestor stream is semi-joined against it BEFORE the rollup,
    so only the named directories' contributions shuffle.
    """
    zero = F.lit(0).cast("long")
    dir_contrib = inodes.filter(F.col("is_dir")).select(
        F.explode(
            F.array_union(F.expr(_ANCESTORS), F.array(F.col("path")))
        ).alias("dir_path"),
        zero.alias("file_count"),
        F.lit(1).cast("long").alias("dir_count"),
        zero.alias("total_length"),
        zero.alias("diskspace"),
    )
    parent = F.regexp_extract("path", r"^(.*)/[^/]*$", 1)
    file_partials = (
        inodes.filter(~F.col("is_dir"))
        .select(
            F.when(parent == "", "/").otherwise(parent).alias("parent"),
            "length",
            "replication",
        )
        .groupBy("parent")
        .agg(
            F.count("*").alias("file_count"),
            F.sum("length").alias("total_length"),
            F.sum(F.col("length") * F.col("replication")).alias("diskspace"),
        )
    )
    file_contrib = file_partials.select(
        F.explode(
            F.array_union(
                F.expr(_ancestors("parent")), F.array(F.col("parent"))
            )
        ).alias("dir_path"),
        "file_count",
        zero.alias("dir_count"),
        "total_length",
        "diskspace",
    )
    contrib = dir_contrib.unionByName(file_contrib)
    if restrict_to is not None:
        contrib = contrib.join(restrict_to, "dir_path", "left_semi")
    return contrib.groupBy("dir_path").agg(
        F.sum("file_count").alias("file_count"),
        F.sum("dir_count").alias("dir_count"),
        F.sum("total_length").alias("total_length"),
        F.sum("diskspace").alias("diskspace"),
    )


@register(
    "a2_quota_check",
    oracle=f"""
SELECT dir_path, ns_quota, ns_count, ds_quota, ds_count,
       (ns_quota >= 0 AND ns_count > ns_quota) AS ns_violated,
       (ds_quota >= 0 AND ds_count > ds_quota) AS ds_violated
FROM (
  SELECT d.path AS dir_path, d.ns_quota AS ns_quota, d.ds_quota AS ds_quota,
         CAST(COUNT(*) AS BIGINT) AS ns_count,
         CAST(SUM(CASE WHEN NOT i.is_dir THEN i.length * i.replication ELSE 0 END) AS BIGINT) AS ds_count
  FROM inodes d
  JOIN inodes i ON d.is_dir AND {_SUBTREE}
  WHERE d.ns_quota >= 0 OR d.ds_quota >= 0
  GROUP BY d.path, d.ns_quota, d.ds_quota
) q
WHERE (ns_quota >= 0 AND ns_count > ns_quota)
   OR (ds_quota >= 0 AND ds_count > ds_quota)
""",
    doc="A2 quota accounting + verifyQuota (FSDirectory.java:1351-1401, "
    "INodeDirectoryWithQuota.java:91-111): namespace count (files+dirs, dir "
    "itself included) and diskspace vs configured quotas; rows = violations.",
)
def a2_quota_check(e) -> DataFrame:
    inodes = e["inodes"]
    quota_dirs = inodes.filter(
        F.col("is_dir") & ((F.col("ns_quota") >= 0) | (F.col("ds_quota") >= 0))
    ).select(F.col("path").alias("dir_path"), "ns_quota", "ds_quota")
    # Only quota-carrying directories can violate, so drop every other
    # ancestor row BEFORE the rollup shuffles (guide §2.3 "project/filter
    # before the exchange"): the broadcast semi-join against the (rare —
    # FSDirectory attaches quotas to a handful of subtrees) quota-dir set
    # shrinks the exploded ancestor stream to the quota subtrees only.
    # The old shape aggregated the FULL per-directory summary and joined
    # after — the A1 answer computed just to throw 99% of it away.
    # Pinned per session (r11): the reference keeps exactly this state in
    # RAM — INodeDirectoryWithQuota caches (nsCount, diskspace) per quota
    # directory and updates them incrementally (INodeDirectoryWithQuota
    # .java:91-111), so the quota scan never re-walks the tree. The pin
    # is quota-dir-count-sized; the per-pass ancestor explode over the
    # full namespace (the query's whole cost) happens once per session.
    from ..registry import eager_cache

    summary = eager_cache(
        e,
        "a2_quota_summary",
        lambda: content_summary_all(
            inodes, restrict_to=F.broadcast(quota_dirs.select("dir_path"))
        ),
    )
    joined = quota_dirs.join(summary, "dir_path").select(
        "dir_path",
        "ns_quota",
        (F.col("file_count") + F.col("dir_count")).alias("ns_count"),
        "ds_quota",
        F.col("diskspace").alias("ds_count"),
    )
    out = joined.select(
        "*",
        ((F.col("ns_quota") >= 0) & (F.col("ns_count") > F.col("ns_quota"))).alias("ns_violated"),
        ((F.col("ds_quota") >= 0) & (F.col("ds_count") > F.col("ds_quota"))).alias("ds_violated"),
    )
    return out.filter(F.col("ns_violated") | F.col("ds_violated"))


@register(
    "a4_file_size_histogram",
    oracle="""
SELECT CAST(CASE WHEN length > 137438953472 THEN 65537
            ELSE CEIL(length / 2097152.0) END AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT)                          AS file_count,
       CAST(SUM(length) AS BIGINT)                       AS total_bytes
FROM inodes
WHERE NOT is_dir
GROUP BY 1
""",
    doc="A4 file-size histogram (FileDistributionVisitor.java:51-141): "
    "bucket = ceil(fileSize/step), step 2 MiB, sizes beyond maxSize 2^37 "
    "clamp to the overflow bucket.",
)
def a4_file_size_histogram(e) -> DataFrame:
    files = e["inodes"].filter(~F.col("is_dir"))
    bucket = (
        F.when(F.col("length") > 137438953472, F.lit(65537))
        .otherwise(F.ceil(F.col("length") / F.lit(2097152.0)))
        .cast("long")
    )
    return files.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("file_count"),
        F.sum("length").alias("total_bytes"),
    )


@register(
    "a5_name_frequency",
    oracle="""
SELECT band,
       CAST(COUNT(*) AS BIGINT)                       AS distinct_names,
       CAST(SUM(n) AS BIGINT)                         AS total_files,
       CAST(SUM((24 + length(name)) * (n - 1)) AS BIGINT) AS heap_savings
FROM (
  SELECT name, CAST(COUNT(*) AS BIGINT) AS n
  FROM inodes WHERE NOT is_dir GROUP BY name
) f,
LATERAL (SELECT CASE WHEN n >= 100000 THEN 100000
                     WHEN n >= 10000 THEN 10000
                     WHEN n >= 1000 THEN 1000
                     WHEN n >= 100 THEN 100
                     WHEN n >= 10 THEN 10
                     WHEN n >= 2 THEN 2
                     ELSE 1 END AS band) b
GROUP BY band
""",
    doc="A5 name-frequency rollup (NameDistributionVisitor.java:36-99): "
    "files per basename, banded into frequency thresholds; heap savings "
    "(24+len)*(n-1) models the NameCache dictionary win (NameCache.java:43-117).",
)
def a5_name_frequency(e) -> DataFrame:
    files = e["inodes"].filter(~F.col("is_dir"))
    per_name = files.groupBy("name").agg(F.count("*").alias("n"))
    band = (
        F.when(F.col("n") >= 100000, 100000)
        .when(F.col("n") >= 10000, 10000)
        .when(F.col("n") >= 1000, 1000)
        .when(F.col("n") >= 100, 100)
        .when(F.col("n") >= 10, 10)
        .when(F.col("n") >= 2, 2)
        .otherwise(1)
    )
    return per_name.groupBy(band.alias("band")).agg(
        F.count("*").alias("distinct_names"),
        F.sum("n").alias("total_files"),
        F.sum((F.lit(24) + F.length("name")) * (F.col("n") - 1)).alias("heap_savings"),
    )


@register(
    "u1_concat_renumber",
    oracle="""
SELECT t.target_file_id, b.block_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY t.target_file_id
         ORDER BY b.file_id, b.seq) - 1 AS INT) AS new_seq
FROM blocks b
JOIN inodes i ON i.id = b.file_id
JOIN (
  SELECT parent_id, MIN(id) AS target_file_id
  FROM inodes WHERE NOT is_dir GROUP BY parent_id
) t ON t.parent_id = i.parent_id
""",
    doc="U1 concat (FSNamesystem.concat:986-1111, "
    "INodeFile.appendBlocks:116-131, tools/HDFSConcat.java): append sibling "
    "files' blocks onto the first file of each directory, re-numbering seq — "
    "UNION ALL + row_number window.",
)
def u1_concat_renumber(e) -> DataFrame:
    inodes, blocks = e["inodes"], e["blocks"]
    files = inodes.filter(~F.col("is_dir")).select(
        F.col("id").alias("file_id"), "parent_id"
    )
    targets = files.groupBy("parent_id").agg(F.min("file_id").alias("target_file_id"))
    w = Window.partitionBy("target_file_id").orderBy("file_id", "seq")
    return (
        blocks.join(files, "file_id")
        .join(targets, "parent_id")
        .select(
            "target_file_id",
            "block_id",
            (F.row_number().over(w) - 1).cast("int").alias("new_seq"),
        )
    )
