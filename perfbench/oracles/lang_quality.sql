-- input: dg = the html_extract step output
WITH ctok AS (SELECT *, cast(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS bigint) AS n_tokens,
    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk FROM dg),
mlt AS (SELECT doc_id, lower(text) AS t FROM dg),
mlf AS (SELECT doc_id, CASE WHEN length(t) >= 3
    THEN list_transform(range(1, length(t) - 1), i -> substring(t, i, 3))
    ELSE [] END AS fs FROM mlt),
mlbase AS (SELECT doc_id, len(fs) AS n_features FROM mlf),
mlh0 AS (SELECT doc_id, unnest(fs) AS shingle FROM mlf),
mlfold AS (SELECT doc_id, list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT), list_transform(range(1, length(shingle) + 1), i -> CAST(unicode(shingle[i]) AS UBIGINT))), (acc, b) -> CAST(((CAST((xor(acc, b)) % 4294967296 AS HUGEINT) * 435) + ((CAST((xor(acc, b)) % 4294967296 AS HUGEINT) * 256 + CAST((xor(acc, b)) // 4294967296 AS HUGEINT) * 435) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS h FROM mlh0),
mlz0 AS (SELECT doc_id,
    CAST((CAST(h AS HUGEINT) + 13942075065423867993) % 18446744073709551616
      AS UBIGINT) AS z FROM mlfold),
mlz1 AS (SELECT doc_id, CAST(((CAST((xor(z, z >> 30)) % 4294967296 AS HUGEINT) * 484763065) + ((CAST((xor(z, z >> 30)) % 4294967296 AS HUGEINT) * 3210233709 + CAST((xor(z, z >> 30)) // 4294967296 AS HUGEINT) * 484763065) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM mlz0),
mlz2 AS (SELECT doc_id, CAST(((CAST((xor(z, z >> 27)) % 4294967296 AS HUGEINT) * 321982955) + ((CAST((xor(z, z >> 27)) % 4294967296 AS HUGEINT) * 2496678331 + CAST((xor(z, z >> 27)) // 4294967296 AS HUGEINT) * 321982955) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM mlz1),
mlhv AS (SELECT doc_id,
    cast(xor(z, z >> 31) % 256 AS bigint) + 1 AS bk FROM mlz2),
mlsums AS (SELECT doc_id,
    sum(([-108, 88, 37, 41, -59, -28, 86, -80, 75, 98, -73, -100, 35, -59, 101, 65, -98, -77, -41, -6, -29, -35, -101, 104, 70, -56, -66, 15, 108, 118, 94, 100, -61, -127, -23, 6, -101, -20, 74, 102, -59, 24, -121, -1, 35, 76, 37, 44, -3, -15, -66, -14, 4, 126, 1, 38, -125, -79, -29, 55, 70, 105, -25, -94, 66, 77, -62, -104, -19, 78, -110, 0, -70, 72, -113, 55, -73, -97, -51, -66, 23, 60, -77, 115, 18, -67, 8, -125, 71, -12, -1, 38, 3, -114, -44, -119, -76, 97, -100, 9, -123, -73, 57, 98, 21, 40, 11, -65, -108, 101, 25, -123, 105, 90, 63, 93, -67, -85, -21, -66, 45, 64, -90, -115, 41, -43, 7, -53, 56, 64, -107, -99, 18, 60, 46, 84, 41, 89, -54, 60, -32, -94, -83, -110, -92, -10, 17, -6, 19, -53, -18, -69, 84, 85, -20, 34, 56, 109, -13, -116, 101, -27, 40, -44, 122, -19, -14, 12, -58, -61, 82, -26, -88, 122, -123, -79, 5, -10, -55, -14, 16, 72, 67, 120, 124, -96, -53, -19, -93, -103, -112, 114, -39, 46, -61, 15, -121, 37, -107, 23, 23, -2, -45, 111, 14, 38, 38, 77, -109, -29, -44, -68, -28, -31, -3, -98, 13, 105, -9, 6, 31, 17, -89, 94, 23, -24, -83, 73, -74, 11, 15, -21, 0, -110, 14, 87, -77, -108, 14, 111, 70, 104, 32, 118, 48, 29, -30, -58, 13, -24, -81, 120, -115, 50, 63, 72])[bk]) AS s0, sum(([-31, -99, 0, 75, 59, 98, -8, -124, 86, 23, 51, 110, 54, -114, -4, 3, -81, 71, -81, -90, 18, -48, -83, -46, -35, 52, 127, -125, 114, -39, 117, 91, -96, -77, -61, -120, -104, -44, 26, -116, -110, 49, 0, 122, -85, -95, 23, 1, -51, 33, -115, 77, 13, -75, 31, 43, -107, -86, 49, -33, 63, -39, 73, -5, 98, -62, 72, -110, 64, 50, 114, -103, 107, -65, 100, 75, -14, 90, 53, -116, 6, -65, -81, 124, 62, -76, -116, 43, -101, 96, 64, -85, 81, 63, 127, -115, -122, -71, -96, -42, 7, 106, 39, -71, -23, 31, 1, 124, 51, 76, 120, 75, 80, -86, -90, -30, 26, 87, 122, 123, -74, 46, -73, 23, -22, -93, -123, 73, -42, 96, 93, 24, -91, -64, -43, 123, 68, 9, 10, 89, -118, 126, -67, 32, 24, -22, 57, 104, -24, 91, -95, -127, 95, 8, 24, -23, -73, -116, 65, -36, -99, -93, 83, -5, 51, 48, -9, 64, 23, -17, -85, -3, 90, 50, -82, 19, -42, -21, 58, -111, -103, -1, 119, -70, 87, 108, 60, -75, -4, 90, -9, 44, -86, 58, -50, -59, 58, 81, -7, 102, -83, 28, -72, -54, -118, -81, 90, 42, -101, -121, 27, 25, 29, -5, -102, 104, -79, -98, -100, 52, 3, 80, 37, -49, -93, -109, 64, -85, 75, 76, -20, 72, 42, -101, 65, 48, -114, 107, 9, 94, -101, -40, 43, 13, -121, -78, 26, 22, 58, 13, -28, -117, -17, -86, -84, 38])[bk]) AS s1,
    sum(([-106, -11, 115, -125, 124, 38, 12, -66, 78, 8, 77, 93, -80, 37, -24, 100, 26, -106, -86, -35, -98, -60, 122, -15, -46, 12, -121, 104, 28, -105, 62, 64, 119, -13, 22, 96, 58, 50, -84, -30, -40, 64, 36, 66, 117, 64, -123, -81, 80, 23, -24, 102, 29, 20, -102, -35, 114, 124, 17, -1, -106, 124, -15, -14, -126, -2, -15, 35, 80, -117, -19, 110, -85, -127, 59, -9, -30, 59, 8, 71, 125, 88, 50, -10, -60, 21, 27, -107, 55, -77, 56, 91, -3, 108, 62, 108, -118, -122, 99, -121, -119, 33, 7, -35, -60, 27, 85, -37, 89, 63, 86, -126, -2, -57, -81, 118, 1, 22, 113, 18, 24, -15, 6, 97, -31, -28, 10, 106, 65, 16, -64, -18, -121, 95, 79, -27, -101, 89, 91, -1, 71, -122, -45, -106, -34, -119, -115, 43, -38, -35, 126, 112, 43, 101, -73, -86, -32, 92, 55, -100, -87, 29, -81, -35, 122, -111, -108, -121, 85, -98, 30, 15, 79, 49, 26, -96, 106, -56, 8, -61, -113, -36, -22, 23, 83, 85, -110, -50, 117, 37, -17, 125, -102, 23, -68, -102, -95, 0, 51, 78, 85, -48, 63, 32, 50, -27, 109, 86, 74, 79, 105, -111, -97, -103, -48, 50, 1, -29, 24, -62, -107, 17, -95, 38, -49, 96, 87, 109, -66, -33, 121, -52, 74, 123, 58, -60, 60, 22, 60, -99, -75, -93, 31, 124, -95, 10, -16, 9, -36, -69, 70, 4, -69, 80, -59, 106])[bk]) AS s2, sum(([32, -104, 58, 32, 37, 68, 64, -21, -78, -42, -31, -83, 40, -48, -57, -45, -110, -83, -19, -78, 55, 89, 12, -117, -21, -20, 99, 105, 78, 121, -6, -102, -24, 95, 119, 106, -88, -64, -107, 127, 13, -10, 79, -108, 90, -91, -16, -36, 73, 64, 76, 56, 104, 115, -30, -104, 101, 81, -108, -62, 118, -56, 79, 124, -64, -63, 89, 29, -40, 72, -11, 127, -58, 92, -27, 101, 23, 117, 30, -15, 64, -26, 61, 56, -10, -108, -29, 39, -30, -9, -82, 62, -87, 34, -15, 115, -3, -61, -47, -108, -41, 58, -21, 79, 36, 16, 71, 113, 103, 12, -11, 65, -30, 88, 100, 124, -46, 48, -90, -85, -126, -40, -77, -57, -50, 81, 83, 1, 47, 60, -111, 99, -117, 104, -7, 70, 5, -28, 114, 117, -60, -49, 19, 31, -32, 78, -109, -113, -3, 109, 14, 88, 125, 35, 5, 17, 18, 24, -85, -37, -55, 24, -105, -85, 80, 14, 102, 1, 20, 113, 50, 7, -19, -69, -59, 85, 31, 74, 62, 29, -11, -114, -34, 69, 29, -21, -127, -69, 121, -69, -80, -30, 105, 79, 85, 46, -17, -23, 3, -58, 39, 86, -74, 93, 81, 39, 113, -22, 120, -6, 34, -32, -79, -9, -123, 60, -111, 23, 49, -26, -36, -34, 100, -60, -70, -103, -80, -89, 29, -64, -32, -56, 70, 52, -105, 18, 99, 119, -125, -7, 69, -118, -71, 32, 109, 15, -57, 99, -117, -3, -98, 45, -100, 54, 51, -2])[bk]) AS s3
  FROM mlhv GROUP BY 1),
mlsc AS (SELECT b.doc_id, b.n_features,
    coalesce(s0, 0) AS s0, coalesce(s1, 0) AS s1,
    coalesce(s2, 0) AS s2, coalesce(s3, 0) AS s3
  FROM mlbase b LEFT JOIN mlsums w USING (doc_id)),
mllg AS (SELECT doc_id, n_features,
    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s0 AS double)
      / cast(greatest(n_features, 1) AS double)) AS l0,
    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s1 AS double)
      / cast(greatest(n_features, 1) AS double)) AS l1,
    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s2 AS double)
      / cast(greatest(n_features, 1) AS double)) AS l2,
    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s3 AS double)
      / cast(greatest(n_features, 1) AS double)) AS l3
  FROM mlsc),
mlpred AS (SELECT doc_id, n_features,
  CASE WHEN l0 >= l1 AND l0 >= l2 AND l0 >= l3 THEN 'en'
    WHEN l1 >= l2 AND l1 >= l3 THEN 'de'
    WHEN l2 >= l3 THEN 'fr' ELSE 'es' END AS lang,
  greatest(l0, l1, l2, l3) AS logit
FROM mllg),
ch AS (SELECT doc_id,
  cast(len(list_filter(tk, t -> list_contains(['the','a','an','of','and','to','in','is','it','that'], t))) AS bigint) AS en_hits,
  cast(len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','zu','mit'], t))) AS bigint) AS de_hits,
  cast(len(list_filter(tk, t -> list_contains(['le','la','les','et','est','un','une','de','que','pour'], t))) AS bigint) AS fr_hits,
  cast(len(list_filter(tk, t -> list_contains(['el','la','los','las','y','es','un','una','de','que'], t))) AS bigint) AS es_hits,
  cast(len(list_filter(tk, t -> list_contains(['的','是','了','在','我','有','和','就','不','人'], t))) AS bigint) AS zh_hits
  FROM ctok),
cb AS (SELECT *, greatest(en_hits, de_hits, fr_hits, es_hits, zh_hits) AS best FROM ch),
clang AS (SELECT doc_id,
    CASE WHEN best > 0 THEN CASE WHEN en_hits = best THEN 'en' ELSE CASE WHEN de_hits = best THEN 'de' ELSE CASE WHEN fr_hits = best THEN 'fr' ELSE CASE WHEN es_hits = best THEN 'es' ELSE CASE WHEN zh_hits = best THEN 'zh' ELSE 'und' END END END END END ELSE 'und' END AS predicted_lang
  FROM cb)
SELECT ctok.doc_id, ctok.text, ctok.n_tokens, ctok.n_blocks_kept, ctok.n_blocks_dropped,
  clang.predicted_lang, mlpred.lang AS lang_ml,
  NOT (n_tokens < 20) AND NOT (n_blocks_dropped >= 10) AS keep,
  coalesce(array_to_string(list_filter([
    CASE WHEN n_tokens < 20 THEN 'too_short' END,
    CASE WHEN n_blocks_dropped >= 10 THEN 'boiler_heavy' END], r -> r IS NOT NULL), ','), '')
    AS reasons
FROM ctok JOIN clang USING (doc_id) JOIN mlpred USING (doc_id)
