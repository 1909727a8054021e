SELECT o_orderkey, o_orderstatus, bucket,
  count(DISTINCT ck) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS cd_plain,
  count(DISTINCT ck) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS cd_group,
  cast(sum(DISTINCT ck) OVER (PARTITION BY o_orderstatus ORDER BY bucket
    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS bigint) AS sd_ties,
  coalesce(array_join(sort_array(array_agg(DISTINCT ck) OVER (
    PARTITION BY o_orderstatus ORDER BY bucket
    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)), ','), '') AS la_current
FROM (SELECT o_orderkey, o_orderstatus,
      cast(floor(o_totalprice / 100000) AS bigint) AS bucket,
      o_custkey % 7 AS ck FROM orders WHERE o_orderkey % 20 = 0) t
