WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk FROM documents),
tw AS (SELECT unnest(tk) AS word FROM toks),
wv AS (SELECT word, count(*) AS cnt FROM tw
  WHERE regexp_full_match(word, '[a-z0-9]+') GROUP BY 1),
v0 AS (SELECT chr(1) || array_to_string(
    list_transform(range(1, length(word) + 1), i -> word[i]),
    chr(1) || chr(1)) || chr(1) AS s, cnt FROM wv),
p1 AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)),
      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
      chr(1) || chr(1)) AS sy, cnt FROM v0)
  ) GROUP BY 1, 2),
b1 AS (SELECT a, b, pcnt FROM p1 ORDER BY pcnt DESC, a, b LIMIT 1),
v1 AS (SELECT replace(v0.s,
    chr(1) || b1.a || chr(1) || chr(1) || b1.b || chr(1),
    chr(1) || b1.a || b1.b || chr(1)) AS s, v0.cnt
  FROM v0, b1),
p2 AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)),
      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
      chr(1) || chr(1)) AS sy, cnt FROM v1)
  ) GROUP BY 1, 2),
b2 AS (SELECT a, b, pcnt FROM p2 ORDER BY pcnt DESC, a, b LIMIT 1),
v2 AS (SELECT replace(v1.s,
    chr(1) || b2.a || chr(1) || chr(1) || b2.b || chr(1),
    chr(1) || b2.a || b2.b || chr(1)) AS s, v1.cnt
  FROM v1, b2),
p3 AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)),
      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
      chr(1) || chr(1)) AS sy, cnt FROM v2)
  ) GROUP BY 1, 2),
b3 AS (SELECT a, b, pcnt FROM p3 ORDER BY pcnt DESC, a, b LIMIT 1),
v3 AS (SELECT replace(v2.s,
    chr(1) || b3.a || chr(1) || chr(1) || b3.b || chr(1),
    chr(1) || b3.a || b3.b || chr(1)) AS s, v2.cnt
  FROM v2, b3),
p4 AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)),
      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
      chr(1) || chr(1)) AS sy, cnt FROM v3)
  ) GROUP BY 1, 2),
b4 AS (SELECT a, b, pcnt FROM p4 ORDER BY pcnt DESC, a, b LIMIT 1),
v4 AS (SELECT replace(v3.s,
    chr(1) || b4.a || chr(1) || chr(1) || b4.b || chr(1),
    chr(1) || b4.a || b4.b || chr(1)) AS s, v3.cnt
  FROM v3, b4),
p5 AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)),
      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
      chr(1) || chr(1)) AS sy, cnt FROM v4)
  ) GROUP BY 1, 2),
b5 AS (SELECT a, b, pcnt FROM p5 ORDER BY pcnt DESC, a, b LIMIT 1),
v5 AS (SELECT replace(v4.s,
    chr(1) || b5.a || chr(1) || chr(1) || b5.b || chr(1),
    chr(1) || b5.a || b5.b || chr(1)) AS s, v4.cnt
  FROM v4, b5),
p6 AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)),
      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
      chr(1) || chr(1)) AS sy, cnt FROM v5)
  ) GROUP BY 1, 2),
b6 AS (SELECT a, b, pcnt FROM p6 ORDER BY pcnt DESC, a, b LIMIT 1),
v6 AS (SELECT replace(v5.s,
    chr(1) || b6.a || chr(1) || chr(1) || b6.b || chr(1),
    chr(1) || b6.a || b6.b || chr(1)) AS s, v5.cnt
  FROM v5, b6),
sw AS (SELECT unnest(string_split(substring(s, 2, length(s) - 2),
    chr(1) || chr(1))) AS subword, cnt FROM v6),
agg AS (SELECT subword, cast(sum(cnt) AS bigint) AS n_occurrences
  FROM sw GROUP BY 1)
SELECT subword, n_occurrences FROM agg
ORDER BY n_occurrences DESC, subword LIMIT 40
