WITH htmlp AS (SELECT doc_id,
  '<!DOCTYPE html><html><head><title>Document ' ||
  cast(doc_id AS varchar) ||
  '</title><style>body{margin:0} .hidden{display:none}</style>' ||
  '<script type="text/javascript">var t = 1; if (t < 2) { t = 3; }' ||
  '</script></head><body><!-- rendered by engine v1.' ||
  cast(doc_id % 7 AS varchar) ||
  ' --><header><nav><ul><li><a href="/">Home</a></li>' ||
  '<li><a href="/news">Latest news</a></li>' ||
  '<li><a href="/archive?y=2024">Archive 2024</a></li>' ||
  CASE WHEN doc_id % 2 = 0
    THEN '<li><a href="/extra">Extra section</a></li>' ELSE '' END ||
  '</ul></nav></header><article><h1>Document ' ||
  cast(doc_id AS varchar) ||
  '</h1><p>' || substring(text, 1, cast(floor(length(text) / 2) AS int)) ||
  ' see <a href="/ref?d=' || cast(doc_id AS varchar) ||
  '">reference ' || cast(doc_id AS varchar) ||
  '</a></p><p>' ||
  substring(text, cast(floor(length(text) / 2) AS int) + 1, length(text)) ||
  '</p><div class="share"><a href="#">Share</a> ' ||
  '<a href="#">Tweet</a> <a href="#">Pin</a></div>' ||
  '<aside><ul><li><a href="/rel?p=1">Related one</a></li>' ||
  '<li><a href="/rel?p=2">Related two</a></li></ul></aside>' ||
  '</article><footer><p>&copy; 2024 Example Corp &amp; Partners ' ||
  '&mdash; <a href="/about">About us</a> ' ||
  '<a href="/tos">Terms &amp; conditions</a></p></footer>' ||
  '</body></html>' AS html
FROM documents),
cleaned AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
    '(?s)<!--.*?-->', ' ', 'g'),
    '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS h FROM htmlp),
bl0 AS (SELECT doc_id,
    string_split_regex(h, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|section|article|aside|main|header|footer|nav|blockquote|pre|figure|figcaption|br|hr|form|fieldset|title|head|body|html)\b[^>]*>') AS bl FROM cleaned),
bl1 AS (SELECT doc_id, i - 1 AS block_idx, bl[i] AS raw
  FROM bl0 CROSS JOIN unnest(generate_series(1, len(bl))) AS u(i)),
bf AS (SELECT doc_id, block_idx,
    trim(regexp_replace(replace(replace(replace(replace(replace(replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'), '&lt;', '<'), '&gt;', '>'), '&quot;', chr(34)), '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g')) AS btext,
    list_transform(regexp_extract_all(raw, '(?is)<a\b[^>]*>(.*?)</a>', 1),
      x -> cast(length(trim(regexp_replace(replace(replace(replace(replace(replace(replace(regexp_replace(x, '<[^>]*>', ' ', 'g'), '&lt;', '<'), '&gt;', '>'), '&quot;', chr(34)), '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g'))) AS bigint)) AS lks
  FROM bl1),
bm AS (SELECT doc_id, cast(block_idx AS bigint) AS block_idx, btext,
    cast(length(btext) AS bigint) AS n_chars,
    cast(CASE WHEN btext = '' THEN 0
      ELSE len(string_split(btext, ' ')) END AS bigint) AS n_words,
    list_reduce(list_prepend(cast(0 AS bigint), lks), (a, x) -> a + x)
      AS link_chars,
    CASE WHEN length(btext) = 0 THEN 0.0
      ELSE cast(list_reduce(list_prepend(cast(0 AS bigint), lks),
        (a, x) -> a + x) AS double) / length(btext) END AS link_density
  FROM bf),
bk AS (SELECT *, (n_words >= 5 AND link_density <= 0.33)
    AS kept
  FROM bm WHERE n_chars > 0),
dg AS (SELECT doc_id,
    string_agg(CASE WHEN kept THEN btext END, ' ' ORDER BY block_idx)
      AS text,
    cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint)
      AS n_blocks_kept,
    cast(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS bigint)
      AS n_blocks_dropped
  FROM bk GROUP BY 1
  HAVING sum(CASE WHEN kept THEN 1 ELSE 0 END) > 0)
SELECT doc_id, text, n_blocks_kept, n_blocks_dropped FROM dg
