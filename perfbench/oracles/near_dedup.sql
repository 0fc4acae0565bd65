WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
  FROM toks WHERE len(tk) >= 3),
posting AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM sh),
folded AS (SELECT id, list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT), list_transform(range(1, length(shingle) + 1), i -> CAST(unicode(shingle[i]) AS UBIGINT))), (acc, b) -> CAST(((CAST((xor(acc, b)) % 4294967296 AS HUGEINT) * 435) + ((CAST((xor(acc, b)) % 4294967296 AS HUGEINT) * 256 + CAST((xor(acc, b)) // 4294967296 AS HUGEINT) * 435) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS h FROM posting),
hx AS (SELECT id, h, unnest(range(0, 32)) AS i FROM folded),
z0 AS (SELECT id, i, CAST((CAST(h AS HUGEINT) +
    CAST(CAST(((CAST((CAST(i AS UBIGINT)) % 4294967296 AS HUGEINT) * 2135587861) + ((CAST((CAST(i AS UBIGINT)) % 4294967296 AS HUGEINT) * 2654435769 + CAST((CAST(i AS UBIGINT)) // 4294967296 AS HUGEINT) * 2135587861) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS HUGEINT))
    % 18446744073709551616 AS UBIGINT) AS z FROM hx),
z1 AS (SELECT id, i, CAST(((CAST((xor(z, z >> 30)) % 4294967296 AS HUGEINT) * 484763065) + ((CAST((xor(z, z >> 30)) % 4294967296 AS HUGEINT) * 3210233709 + CAST((xor(z, z >> 30)) // 4294967296 AS HUGEINT) * 484763065) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM z0),
z2 AS (SELECT id, i, CAST(((CAST((xor(z, z >> 27)) % 4294967296 AS HUGEINT) * 321982955) + ((CAST((xor(z, z >> 27)) % 4294967296 AS HUGEINT) * 2496678331 + CAST((xor(z, z >> 27)) // 4294967296 AS HUGEINT) * 321982955) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM z1),
hv AS (SELECT id, i, CAST(CAST(xor(z, z >> 31) AS HUGEINT) -
    CASE WHEN xor(z, z >> 31) >= 9223372036854775808
      THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS h FROM z2),
hm AS (SELECT id, i, min(h) AS m FROM hv GROUP BY 1, 2),
sigs AS (SELECT id, list(m ORDER BY i) AS sig FROM hm GROUP BY 1),
banded AS (SELECT id, sig, u.b AS band,
    array_to_string(list_transform(list_slice(sig, u.b * 4 + 1, u.b * 4 + 4),
      v -> cast(v AS varchar)), ',') AS bucket
  FROM sigs, (SELECT unnest(range(0, 8)) AS b) u),
p AS (SELECT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
est AS (SELECT id_a, id_b,
    cast(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS double) / 32
      AS est_jaccard
  FROM p)
SELECT id_a, id_b, max(est_jaccard) AS est_jaccard FROM est
GROUP BY 1, 2 HAVING max(est_jaccard) >= 0.5
