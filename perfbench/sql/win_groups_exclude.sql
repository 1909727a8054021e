SELECT o_orderkey, o_orderstatus, bucket,
  s_frame - s_peer AS sum_excl_group,
  s_frame - s_peer + o_orderkey AS sum_excl_ties,
  s_frame - o_orderkey AS sum_excl_current
FROM (
  SELECT o_orderkey, o_orderstatus, bucket,
    sum(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY g
      RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s_frame,
    sum(o_orderkey) OVER (PARTITION BY o_orderstatus, g) AS s_peer
  FROM (
    SELECT o_orderkey, o_orderstatus, bucket,
      dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY bucket) AS g
    FROM (SELECT o_orderkey, o_orderstatus,
          cast(floor(o_totalprice / 100000) AS bigint) AS bucket
          FROM orders)))
